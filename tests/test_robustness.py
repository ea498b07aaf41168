"""Hostile-input hardening through the FULL distributed path (not just the
kernel): malformed html, empty bytes, non-UTF8, unbalanced divs — the Spark
pipeline must agree with the oracle on all of them, never crash."""

from hypothesis import given, settings, strategies as st

from deepseek_ocr_spark.kernels.tiling import tile_plan
from deepseek_ocr_spark.oracle.runner import extract_url
from deepseek_ocr_spark.pipeline.extract_job import extract_documents

HOSTILE = [
    ("h://empty", b""),
    ("h://plain", b"just plain text, no tags at all"),
    ("h://unclosed", b"<html><body><div class='page' data-page='0'><p>never closed"),
    ("h://nonutf8", b"\xff\xfe<html><p>\x80\x81</p>"),
    ("h://unbalanced", b'<div class="page" data-page="0"><div><p>deep</p></div>'),
    ("h://shuffled", b'<div class="page" data-page="2"><p>two</p></div>'
                     b'<div class="page" data-page="0"><p>zero</p></div>'
                     b'<div class="page" data-page="1"><p>one</p></div>'),
    ("h://badbbox", b'<div class="page" data-page="0"><p data-bbox="1,2">x</p>'
                    b'<img data-bbox="nope,2,3,4"/></div>'),
    ("h://hugeattr", b'<div class="page" data-page="0" data-width="999999" '
                     b'data-height="1"><p>extreme aspect</p></div>'),
    # zero dims must clamp to defaults, not reach tile planning (div-by-zero)
    ("h://zeroheight", b'<div class="page" data-page="0" data-width="2000" '
                       b'data-height="0"><p>zero height</p></div>'),
    ("h://zerowidth", b'<div class="page" data-page="0" data-width="0" '
                      b'data-height="2000"><p>zero width</p></div>'),
    ("h://gt-in-text", b'<div class="page" data-page="0"><p>a &gt; b and 1 < 2</p></div>'),
]


def test_hostile_inputs_spark_matches_oracle(spark):
    docs = spark.createDataFrame(
        [(u, h) for u, h in HOSTILE], "url string, html binary"
    )
    got = {r["url"]: r for r in extract_documents(docs).collect()}
    for u, h in HOSTILE:
        want = extract_url(u, h)
        assert got[u]["text"] == want["text"], u
        assert got[u]["n_pages"] == want["n_pages"], u


@given(st.integers(1, 10_000_000), st.integers(1, 10_000_000))
@settings(max_examples=300, deadline=None)
def test_tile_plan_fuzz_extreme_dims(w, h):
    nw, nh = tile_plan(w, h)
    assert 1 <= nw * nh <= 6
    if w <= 640 and h <= 640:
        assert (nw, nh) == (1, 1)


def test_short_doc_shingle_ops_no_crash(spark):
    """Docs with <3 tokens must yield zero shingles, not crash (regression:
    sequence(0, size-3) produced a descending array and slice threw)."""
    from deepseek_ocr_spark.operators.dedup import (
        dedup_minhash_pairs, doc_shingles, minhash_signatures)

    docs = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c"), (4, "x")],
        "doc_id long, text string",
    )
    sh = {(r["doc_id"], s) for r in doc_shingles(docs).collect() for s in r["_sh"]}
    assert sh == {(3, "a b c")}
    assert minhash_signatures(docs).count() == 1  # only the 3-token doc
    dedup_minhash_pairs(docs).count()  # no crash


def test_minhash_pairs_default_cap_excludes_hot_bucket(spark):
    """The DEFAULT max_bucket is finite: a synthetic viral bucket (cap+1
    identical docs → one band bucket) yields ZERO pairs under defaults, and
    the uncapped path remains an explicit opt-in (max_bucket=None)."""
    from deepseek_ocr_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET, dedup_minhash_pairs)

    n = DEFAULT_MAX_BUCKET + 1
    docs = spark.createDataFrame(
        [(i, "the exact same viral text payload here") for i in range(n)],
        "doc_id long, text string",
    )
    assert dedup_minhash_pairs(docs).count() == 0
    # explicit opt-out still enumerates: n*(n-1)/2 pairs from the one bucket
    small = docs.limit(5)
    assert dedup_minhash_pairs(small, max_bucket=None).count() == 10


def test_gopher_flags_published_boundaries(spark):
    """Pin the PUBLISHED Gopher semantics (review r4): the paper's own
    stop list (be/that/have/with count), keep-at-boundary thresholds
    (exactly 30% ellipsis lines / 90% bullet lines survive — the rule
    removes only 'more than'), and the symbol-to-word ratio rule."""
    from deepseek_ocr_spark.operators.textops import gopher_quality_flags

    ellipsis_doc = "\n".join(
        ["line one ...", "line two ...", "line three ..."] + ["plain line"] * 7
    )
    bullet_doc = "\n".join(["- item"] * 9 + ["a plain closing line"])
    hashy_doc = " ".join(["word"] * 40 + ["#"] * 10)  # 10/50 = 0.2 > 0.1
    docs = spark.createDataFrame(
        [
            (1, "be that have with " * 5),     # paper stop words only
            (2, "a is a is a is " * 5),        # repo-heuristic words only
            (3, ellipsis_doc),
            (4, bullet_doc),
            (5, hashy_doc),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert got[1]["stop_words_ok"] is True
    assert got[2]["stop_words_ok"] is False
    assert got[3]["ellipsis_ok"] is True   # exactly 0.3 → keep
    assert got[4]["bullet_ok"] is True     # exactly 0.9 → keep
    assert got[5]["symbol_ratio_ok"] is False
    assert got[5]["word_count_ok"] is True  # 50 words — boundary kept


def test_duplicate_page_no_keeps_document_order(spark):
    """Regression: assembly must not tie-break duplicate page_no on content."""
    from deepseek_ocr_spark.oracle.runner import extract_url
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents

    html = (
        b'<div class="page" data-page="0"><p>zebra text first</p></div>'
        b'<div class="page" data-page="0"><p>apple text second</p></div>'
    )
    docs = spark.createDataFrame([("u://dup", html)], "url string, html binary")
    got = extract_documents(docs).collect()[0]
    want = extract_url("u://dup", html)
    assert got["text"] == want["text"]
    assert got["text"].find("zebra") < got["text"].find("apple")


def test_duplicate_url_rows_stay_separate(spark):
    """url is the unique key, but two input rows that share one are not
    merged into one document: each row yields its own extract_url row, as
    run_oracle does (regression: the url-keyed assembly built one 2-page
    doc matching neither)."""
    rows = [("u://x", b"<p>first crawl</p>"), ("u://x", b"<p>second crawl</p>")]
    docs = spark.createDataFrame(rows, "url string, html binary")
    keys = ("url", "text", "raw_text", "n_pages", "n_vision_tokens", "digest")
    got = sorted(tuple(r[k] for k in keys) for r in extract_documents(docs).collect())
    want = sorted(tuple(extract_url(u, h)[k] for k in keys) for u, h in rows)
    assert got == want


def test_void_tag_in_boilerplate_does_not_swallow_content():
    """Regression: unclosed <img> inside <nav> desynced the skip depth."""
    from deepseek_ocr_spark.kernels.extract import PageRecord, extract_page

    raw = extract_page(PageRecord(
        0, 800, 600,
        '<div class="page" data-page="0"><nav><img src="x"><p>menu</p></nav>'
        '<p>REAL CONTENT</p></div>', False))
    assert "REAL CONTENT" in raw
    assert "menu" not in raw


def test_single_quoted_page_div_is_split():
    """Regression: fast splitter only accepted double-quoted attributes."""
    from deepseek_ocr_spark.kernels.extract import split_pages

    pages = split_pages(
        "<div class='page' data-page='0' data-width='1920' data-height='1080'>"
        "<p>x</p></div><div class='page' data-page='1'><p>y</p></div>"
    )
    assert [(p.page_no, p.width) for p in pages] == [(0, 1920), (1, 1190)]


def test_malformed_attr_values_fall_back():
    from deepseek_ocr_spark.kernels.extract import _split_pages_htmlparser

    pages = _split_pages_htmlparser(
        '<div class="page" data-page="x" data-width="12px"><p>a</p></div>'
    )
    assert pages[0].page_no == 0 and pages[0].width == 1190


def test_null_html_rows(spark):
    """Null html body → empty doc, same in Spark and oracle."""
    from deepseek_ocr_spark.oracle.runner import extract_url
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents

    docs = spark.createDataFrame(
        [("u://null", None), ("u://ok", b"<p>hi</p>")], "url string, html binary"
    )
    got = {r["url"]: r for r in extract_documents(docs).collect()}
    assert got["u://null"]["text"] == extract_url("u://null", None)["text"]
    assert "hi" in got["u://ok"]["text"]


def test_missing_query_vec_id_clear_error(spark):
    from deepseek_ocr_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not found"):
        cosine_topk(emb, query_vec_id=10**9)
