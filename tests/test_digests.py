"""Bit-equal pins for operators/digests.py: the Spark digest expressions
against a pure-Python hashlib reference and against their DuckDB mirrors."""

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_spark.operators import dedup
from deepseek_ocr_spark.operators.digests import md5_int, token_hashes, window_digests

TEXTS = [
    "",
    None,
    "solo",
    "日本 語 é ü",
    " ".join(f"w{i * 7919 % 263}" for i in range(1000)),
    "shingle:0 shingle:1 shingle:0 a:3 b:12",
    "  a  b   c    d     e  ",
]


def _ref_hashes(text):
    if text is None:
        return None
    return [
        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for t in text.split(" ")
        if t != ""
    ]


def _ref_rot60(x, s):
    return ((x & ((1 << (60 - s)) - 1)) << s) | (x >> (60 - s))


def _ref_windows(h, w, step):
    out = []
    for i in range(len(h or []) - w + 1):
        acc = h[i]
        for j in range(1, w):
            acc ^= _ref_rot60(h[i + j], step * j)
        out.append(acc)
    return out


@pytest.mark.parametrize("w,step", [(2, 20), (3, 20), (8, 6), (10, 6)])
def test_window_digests_match_hashlib_reference(spark, w, step):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "i int, text string")
    hdf = df.select("i", "text", token_hashes().alias("h"))
    rows = hdf.select("i", "text", "h", window_digests(F.col("h"), w, step).alias("g"))
    got = {r["i"]: r for r in rows.collect()}
    assert len(got) == len(TEXTS)
    for i, text in enumerate(TEXTS):
        h = _ref_hashes(text)
        assert got[i]["h"] == h, text
        assert got[i]["g"] == _ref_windows(h, w, step), text
    # every digest is a 60-bit unsigned value
    assert all(0 <= g < 1 << 60 for r in got.values() for g in r["g"])


@pytest.mark.parametrize("start,n_hex", [(1, 4), (1, 15), (9, 8), (25, 8)])
def test_md5_int_matches_duckdb_mirror(spark, start, n_hex):
    texts = [t for t in TEXTS if t is not None] + ["42", "doc:7"]
    got = {
        r["x"]: r["v"]
        for r in spark.createDataFrame([(t,) for t in texts], "x string")
        .select("x", md5_int(F.col("x"), start, n_hex).alias("v"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT x, CAST(('0x' || substr(md5(x), {start}, {n_hex})) AS BIGINT)"
            " FROM unnest(?) AS t(x)",
            [texts],
        ).fetchall()
    )
    assert got == want
    for t in texts:
        hexd = hashlib.md5(t.encode("utf-8")).hexdigest()
        assert got[t] == int(hexd[start - 1 : start - 1 + n_hex], 16)


@pytest.mark.parametrize("w,step", [(11, 6), (4, 20), (0, 6)])
def test_window_digests_rejects_out_of_range_rotations(spark, w, step):
    with pytest.raises(ValueError):
        window_digests(F.col("h"), w, step)


def test_dedup_spans_rejects_too_wide_windows(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.dedup_spans(docs, w=11)
