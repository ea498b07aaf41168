"""THE correctness gate (SURVEY.md §5.2.2, BASELINE.md): the distributed
Spark plan must produce byte-identical text/raw_text per url vs the
single-node oracle, including SKIP_REPEAT page drops, page ordering, jdx
ordinals, vision-token sums, and span lists."""

import pytest

from deepseek_ocr_spark.datagen.synth import gen_documents
from deepseek_ocr_spark.oracle.runner import run_oracle
from deepseek_ocr_spark.pipeline.extract_job import extract_documents


@pytest.fixture(scope="module")
def spark_vs_oracle(spark, docs_df):
    rows = gen_documents(60)
    oracle = {r["url"]: r for r in run_oracle(rows)}
    got = {r["url"]: r.asDict(recursive=True) for r in extract_documents(docs_df).collect()}
    return oracle, got


def test_all_urls_present(spark_vs_oracle):
    oracle, got = spark_vs_oracle
    assert set(got) == set(oracle)


def test_text_byte_identical(spark_vs_oracle):
    oracle, got = spark_vs_oracle
    mismatch = [u for u in oracle if got[u]["text"] != oracle[u]["text"]]
    assert mismatch == [], f"text mismatch for {mismatch[:3]}: got={got[mismatch[0]]['text'][:200]!r} want={oracle[mismatch[0]]['text'][:200]!r}"


def test_raw_text_byte_identical(spark_vs_oracle):
    oracle, got = spark_vs_oracle
    mismatch = [u for u in oracle if got[u]["raw_text"] != oracle[u]["raw_text"]]
    assert mismatch == []


def test_digest_matches(spark_vs_oracle):
    oracle, got = spark_vs_oracle
    for u in oracle:
        assert got[u]["digest"] == oracle[u]["digest"]


def test_counters_match(spark_vs_oracle):
    oracle, got = spark_vs_oracle
    for u in oracle:
        assert got[u]["n_pages"] == oracle[u]["n_pages"], u
        assert got[u]["n_vision_tokens"] == oracle[u]["n_vision_tokens"], u
        assert got[u]["n_text_tokens"] == oracle[u]["n_text_tokens"], u
        assert got[u]["compression_ratio"] == oracle[u]["compression_ratio"], u


def test_spans_match(spark_vs_oracle):
    keys = ("label", "x1", "y1", "x2", "y2", "px1", "py1", "px2", "py2", "page_no", "ord")
    oracle, got = spark_vs_oracle
    for u in oracle:
        want = [tuple(s[k] for k in keys) for s in oracle[u]["spans"]]
        have = [tuple(s[k] for k in keys) for s in got[u]["spans"]]
        assert have == want, u


def _expected_svg(width, height, page_spans):
    """Independent (test-side) reconstruction of the O-7 layout SVG —
    hardcodes the format so a regression in layouts.py is caught, mirrors
    reference draw semantics (pdf.py:151-215): title stroke 4 / others 2,
    translucent fill, label at (x1, max(0, y1-15)); np.random colors
    substituted by the deterministic palette."""
    palette = [
        "#1f77b4", "#d62728", "#2ca02c", "#9467bd",
        "#ff7f0e", "#8c564b", "#17becf", "#7f7f7f",
    ]
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 {width} {height}" '
        f'width="{width}" height="{height}">'
    ]
    for s in sorted(page_spans, key=lambda s: s["ord"]):
        c = palette[s["ord"] % 8]
        sw = 4 if s["label"] == "title" else 2
        ty = max(0, s["py1"] - 15)
        parts.append(
            f'<rect x="{s["px1"]}" y="{s["py1"]}" width="{s["px2"] - s["px1"]}" '
            f'height="{s["py2"] - s["py1"]}" stroke="{c}" stroke-width="{sw}" '
            f'fill="{c}" fill-opacity="0.08"/>'
            f'<text x="{s["px1"]}" y="{ty}" fill="{c}" font-size="12">{s["label"]}</text>'
        )
    parts.append("</svg>")
    return "".join(parts).encode("utf-8")


def test_layouts_side_output(spark, docs_df):
    """O-7: the annotated-layout SVG sink matches a test-side reconstruction
    from the oracle's spans + kept-page dims, byte for byte, for every
    (url, page_no) — including zero-span pages (empty canvas)."""
    from deepseek_ocr_spark.pipeline.layouts import layouts_table

    got = {
        (r["url"], r["page_no"]): (bytes(r["svg"]), r["n_boxes"])
        for r in layouts_table(extract_documents(docs_df)).collect()
    }
    oracle = run_oracle(gen_documents(60))
    want = {}
    for r in oracle:
        for pd in r["page_dims"]:
            key = (r["url"], pd["page_no"])
            page_spans = [s for s in r["spans"] if s["page_no"] == pd["page_no"]]
            want[key] = (
                _expected_svg(pd["width"], pd["height"], page_spans),
                len(page_spans),
            )
    assert set(got) == set(want)
    mismatch = [k for k in want if got[k] != want[k]]
    assert mismatch == [], (mismatch[:3], got[mismatch[0]] if mismatch else None)
    assert any(n > 0 for _, n in want.values())


def test_region_images_side_output(spark, docs_df):
    """O-6: the image-span crop table matches the oracle's image spans."""
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.pipeline.metrics import region_images_table

    regions = region_images_table(extract_documents(docs_df)).collect()
    oracle = run_oracle(gen_documents(60))
    want = sorted(
        (r["url"], s["page_no"], s["ord"], s["px1"], s["py1"], s["px2"], s["py2"])
        for r in oracle
        for s in r["spans"]
        if s["label"] == "image"
    )
    have = sorted(
        (r["url"], r["page_no"], r["ord"], r["px1"], r["py1"], r["px2"], r["py2"])
        for r in regions
    )
    assert have == want and len(have) > 0


def test_relational_tile_plan_agrees_with_kernel(spark):
    """The broadcast-join+window formulation (O-23) == the Python kernel."""
    from deepseek_ocr_spark.kernels.tiling import tile_plan
    from deepseek_ocr_spark.operators.tiling_relational import with_tile_plan

    dims = [(f"k{w}x{h}", w, h) for w in range(150, 4000, 431) for h in range(150, 4000, 431)]
    df = spark.createDataFrame(dims, "key string, width int, height int")
    out = with_tile_plan(df, ["key"])
    got = {r["key"]: (r["nw"], r["nh"]) for r in out.collect()}
    for key, w, h in dims:
        assert got[key] == tile_plan(w, h), (w, h)


def test_giant_document_byte_identity(spark, docs_df):
    """A 2,000-page document (every 20th page degenerate) next to the
    60-doc fixture: the doc-granular plan extracts it in one Python call,
    per url identical to the oracle."""
    from deepseek_ocr_spark.datagen.synth import _page_div, _rng
    from deepseek_ocr_spark.oracle.runner import extract_url

    pages = "".join(
        _page_div(_rng(7, 0, f"giant{p}"), p, p % 20 == 19) for p in range(2000)
    )
    giant = ("https://books.example/giant", f"<html><body>{pages}</body></html>".encode())
    docs = docs_df.select("url", "html").unionByName(
        spark.createDataFrame([giant], "url string, html binary")
    )
    rows = [(r["url"], r["html"]) for r in gen_documents(60)] + [giant]
    keys = ("text", "raw_text", "n_pages", "n_vision_tokens", "digest")
    want = {u: tuple(extract_url(u, h)[k] for k in keys) for u, h in rows}
    got = {r["url"]: tuple(r[k] for k in keys) for r in extract_documents(docs).collect()}
    assert want[giant[0]][2] == 1900  # the 100 degenerate pages are dropped
    assert got == want


def test_layouts_doc_assembly(spark, docs_df):
    """O-7 completion: the per-DOC assembled artifact (reference
    pdf.py:97-119 builds one _layouts.pdf per run from the page images)
    stacks every page's canvas vertically in page order — byte-checked
    against a test-side reconstruction from the oracle's spans + dims."""
    from deepseek_ocr_spark.pipeline.layouts import layouts_doc

    got = {
        r["url"]: (bytes(r["svg"]), r["n_pages"], r["n_boxes"])
        for r in layouts_doc(extract_documents(docs_df)).collect()
    }
    oracle = run_oracle(gen_documents(60))
    assert set(got) == {r["url"] for r in oracle}
    for r in oracle:
        pages = []
        for pd in r["page_dims"]:
            spans = [s for s in r["spans"] if s["page_no"] == pd["page_no"]]
            full = _expected_svg(pd["width"], pd["height"], spans).decode()
            hdr_end = full.index(">") + 1
            body = full[hdr_end : -len("</svg>")]
            pages.append((pd["page_no"], pd["width"], pd["height"], body))
        pages.sort()
        max_w = max(p[1] for p in pages)
        tot_h = sum(p[2] for p in pages)
        parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 {max_w} {tot_h}" '
            f'width="{max_w}" height="{tot_h}">'
        ]
        y = 0
        for _pn, w, h, body in pages:
            parts.append(
                f'<svg x="0" y="{y}" width="{w}" height="{h}" '
                f'viewBox="0 0 {w} {h}">{body}</svg>'
            )
            y += h
        parts.append("</svg>")
        want = "".join(parts).encode()
        assert got[r["url"]] == (want, len(pages), len(r["spans"])), r["url"]
