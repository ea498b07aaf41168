"""Substring (span-level) dedup — crafted-corpus parity vs DuckDB plus
semantic invariants (window flagging, island merge, within-doc repeats)."""

import duckdb
import pytest

from deepseek_ocr_spark.operators import dedup
from tests.test_entry_queries import _value_hash

# 8-token windows (SPAN_W): craft docs around a shared 12-token run so the
# flagged windows overlap and must merge into one span per doc
SHARED = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
ROWS = [
    (0, f"intro words here {SHARED} trailing tail", "en", "s0", 60),
    (1, f"{SHARED} other content entirely different", "en", "s1", 55),
    (2, "totally unique text with no repeated windows at all here okay", "en", "s0", 60),
    (3, "x " * 3, "en", "s1", 6),  # < 8 tokens: no windows
    (4, None, "en", "s0", 0),  # null text
    # within-doc repetition: the same 8-token run twice in ONE doc
    (5, f"{SHARED.rsplit(' ', 4)[0]} filler one two three {SHARED.rsplit(' ', 4)[0]}", "en", "s1", 70),
]


@pytest.fixture(scope="module")
def sp_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("spans")
    spark.createDataFrame(
        ROWS, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _docs(spark, d):
    return spark.read.parquet(f"{d}/documents.parquet")


def test_crafted_corpus_matches_oracle(spark, sp_dir):
    qdf = dedup.dedup_spans(_docs(spark, sp_dir))
    spark_rows = [tuple(r) for r in qdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sp_dir}/documents.parquet/*.parquet'"
    )
    res = con.sql(dedup.dedup_spans_sql())
    duck_rows = res.fetchall()
    assert len(spark_rows) == len(duck_rows) > 0
    assert _value_hash(spark_rows, qdf.columns) == _value_hash(duck_rows, res.columns)


def test_span_semantics(spark, sp_dir):
    out = {}
    for r in dedup.dedup_spans(_docs(spark, sp_dir)).collect():
        out.setdefault(r["doc_id"], []).append(r)
    # docs 0 and 1 share the 12-token run -> 5 overlapping flagged windows
    # merge into ONE span of exactly 12 tokens each
    for d in (0, 1):
        assert len(out[d]) == 1, out.get(d)
        (span,) = out[d]
        assert span["span_end"] - span["span_start"] == 12
        assert span["n_windows"] == 5
    # doc 0's shared run starts after 3 intro tokens
    assert out[0][0]["span_start"] == 3
    assert out[1][0]["span_start"] == 0
    # unique/short/null docs produce no spans
    for d in (2, 3, 4):
        assert d not in out
    # doc 5 repeats an 8-token window within itself -> both occurrences
    # flagged (8 tokens wide each), plus they also match nothing else
    assert 5 in out
    starts = sorted(s["span_start"] for s in out[5])
    assert len(out[5]) == 2 and starts[0] == 0
    for s in out[5]:
        assert s["span_end"] - s["span_start"] == 8


def test_cut_matches_oracle(spark, sp_dir):
    qdf = dedup.dedup_spans_cut(_docs(spark, sp_dir))
    spark_rows = [tuple(r) for r in qdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sp_dir}/documents.parquet/*.parquet'"
    )
    res = con.sql(dedup.dedup_spans_cut_sql())
    duck_rows = res.fetchall()
    assert len(spark_rows) == len(duck_rows) > 0
    assert _value_hash(spark_rows, qdf.columns) == _value_hash(duck_rows, res.columns)


def test_cut_semantics(spark, sp_dir):
    out = {r["doc_id"]: r for r in dedup.dedup_spans_cut(_docs(spark, sp_dir)).collect()}
    # doc 0: 3 intro tokens + 12-token shared span + 2-token tail -> span cut
    assert out[0]["text"] == "intro words here trailing tail"
    assert out[0]["n_removed"] == 12
    # doc 1: span at position 0 cut, unique tail survives
    assert out[1]["text"] == "other content entirely different"
    assert out[1]["n_removed"] == 12
    # untouched docs pass through token-normalized with n_removed = 0
    assert out[2]["n_removed"] == 0
    assert out[2]["text"].startswith("totally unique")
    assert out[3]["text"] == "x x x" and out[3]["n_removed"] == 0
    # null text excluded entirely
    assert 4 not in out
    # doc 5: both 8-token occurrences cut, the 4 filler tokens survive
    assert out[5]["text"] == "filler one two three"
    assert out[5]["n_removed"] == 16


def test_no_python_in_plan(spark, sp_dir):
    plan = (
        dedup.dedup_spans(_docs(spark, sp_dir))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "MapInArrow", "CartesianProduct"):
        assert bad not in plan, bad
