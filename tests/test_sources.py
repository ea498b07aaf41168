"""Directory-of-files source (O-1 analog) + Iceberg gating."""

import pytest
from pyspark.sql import functions as F

from deepseek_ocr_spark.datagen.synth import gen_documents
from deepseek_ocr_spark.oracle.runner import run_oracle
from deepseek_ocr_spark.pipeline.extract_job import extract_documents
from deepseek_ocr_spark.sources.catalog import load_documents_dir, load_documents_iceberg


def test_binaryfile_dir_source_end_to_end(spark, tmp_path):
    rows = gen_documents(12)
    for i, r in enumerate(rows):
        (tmp_path / f"doc{i}.html").write_bytes(r["html"])
    (tmp_path / "ignore.txt").write_text("not html")

    docs = load_documents_dir(spark, str(tmp_path))
    assert docs.count() == 12  # glob filter excluded the .txt
    got = {r["url"].rsplit("/", 1)[-1]: r for r in extract_documents(docs).collect()}
    oracle = {f"doc{i}.html": o for i, o in enumerate(run_oracle(rows))}
    for k, o in oracle.items():
        assert got[k]["text"] == o["text"], k


def test_iceberg_gated_error(spark):
    with pytest.raises(RuntimeError, match="Iceberg runtime not available"):
        load_documents_iceberg(spark, "catalog.db.documents")


def _warc_record(uri, date, html, wtype="response"):
    http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
    hdr = (
        "WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Length: 0\r\n"
    )
    return hdr + "\r\n" + http + "\r\n" + html + "\r\n\r\n"


def test_warc_source(spark, tmp_path):
    """Pure-Catalyst WARC response-record parser: responses extracted with
    url/timestamp/payload; request/metadata records and payload-internal
    blank lines handled."""
    from deepseek_ocr_spark.sources.warc import load_documents_warc

    body_with_blank = (
        '<div class="page" data-page="0"><p>hello</p></div>\r\n\r\n<p>tail</p>'
    )
    warc = (
        _warc_record("http://a.example/x", "2024-01-02T03:04:05Z",
                     "<html><p>A</p></html>")
        + _warc_record("http://a.example/x", "2024-01-02T03:04:05Z",
                       "GET / HTTP/1.1", wtype="request")
        + _warc_record("http://b.example/y", "2024-02-03T04:05:06Z",
                       body_with_blank)
    )
    d = tmp_path / "warc_in"
    d.mkdir()
    (d / "seg-00000.warc").write_text(warc, newline="")

    got = {r["url"]: r for r in load_documents_warc(spark, str(d)).collect()}
    assert set(got) == {"http://a.example/x", "http://b.example/y"}
    a = got["http://a.example/x"]
    assert bytes(a["html"]).decode() == "<html><p>A</p></html>"
    assert a["warc_ts"].isoformat().startswith("2024-01-02T03:04:05")
    # payload-internal blank line survives the limit-3 split
    assert bytes(got["http://b.example/y"]["html"]).decode() == body_with_blank


def test_jsonl_source(spark, tmp_path):
    """PERMISSIVE JSONL scan: good lines parse, corrupt lines survive in
    _corrupt_record instead of failing the job."""
    from deepseek_ocr_spark.sources.warc import load_documents_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"url": "u1", "warc_ts": "2024-01-01T00:00:00", "html": "<p>x</p>", "text": "x", "lang": "en"}\n'
        "this is not json at all\n"
        '{"url": "u2", "html": "<p>y</p>"}\n'
    )
    df = load_documents_jsonl(spark, str(p))
    rows = {r["url"]: r for r in df.collect()}
    assert bytes(rows["u1"]["html"]).decode() == "<p>x</p>"
    assert rows["u1"]["lang"] == "en"
    assert rows["u2"]["warc_ts"] is None
    corrupt = [r for r in rows.values() if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "not json" in corrupt[0]["_corrupt_record"]

    # the run_extract composition: quarantine BEFORE dropping the marker —
    # the corrupt line must not become a phantom NULL-url document
    from pyspark.sql import functions as F

    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    assert sorted(r["url"] for r in clean.collect()) == ["u1", "u2"]


def test_warc_feeds_extract_pipeline(spark, tmp_path):
    """Integration: WARC records flow through the full extraction pipeline
    and match the single-node oracle byte-for-byte."""
    from deepseek_ocr_spark.oracle.runner import extract_url
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.sources.warc import load_documents_warc

    page = ('<div class="page" data-page="0" data-width="800" data-height="600">'
            "<h1>Title</h1><p>warc body text</p></div>")
    warc = _warc_record("http://w.example/doc", "2024-03-04T05:06:07Z",
                        f"<html><body>{page}</body></html>")
    d = tmp_path / "warc_pipe"
    d.mkdir()
    (d / "seg.warc").write_text(warc, newline="")

    docs = load_documents_warc(spark, str(d)).drop("_corrupt_record", "text", "lang") \
        .withColumn("text", F.lit(None).cast("string")) \
        .withColumn("lang", F.lit(None).cast("string"))
    got = extract_documents(docs).collect()
    assert len(got) == 1
    want = extract_url("http://w.example/doc",
                       f"<html><body>{page}</body></html>".encode())
    assert got[0]["text"] == want["text"] and len(got[0]["text"]) > 0


def test_warc_hostile_never_crashes(spark, tmp_path):
    """Hostile/truncated WARC bytes must yield zero-or-some rows, never a
    failed job (same contract as the html splitter)."""
    from deepseek_ocr_spark.sources.warc import load_documents_warc

    d = tmp_path / "warc_hostile"
    d.mkdir()
    cases = [
        "",                                        # empty file
        "WARC/1.0\r\n",                            # header only
        "not a warc at all\njust text",
        "WARC/1.0\r\nWARC-Type: response\r\n",      # no blank-line separator
        _warc_record("http://t.example/z", "2024-01-01T00:00:00Z", "<p>ok</p>")
        + "WARC/1.0\r\ntrunca",                     # valid then truncated
    ]
    for i, c in enumerate(cases):
        (d / f"h{i}.warc").write_text(c, newline="")
    rows = load_documents_warc(spark, str(d)).collect()
    # only the one well-formed response should surface
    assert [r["url"] for r in rows] == ["http://t.example/z"]


def test_warc_splittable_multi_record(spark, tmp_path):
    """The record-delimited read must produce >1 input split on a
    multi-record file (the r2 wholetext reader was one-row-per-file) and
    still parse every record exactly once — including records that
    straddle split boundaries."""
    from deepseek_ocr_spark.sources.warc import load_documents_warc

    warc = "".join(
        _warc_record(f"http://s.example/{i}", "2024-01-02T03:04:05Z",
                     f"<html><p>body {i} {'x' * 200}</p></html>")
        for i in range(200)
    )
    d = tmp_path / "warc_split"
    d.mkdir()
    (d / "seg.warc").write_text(warc, newline="")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try:
        df = load_documents_warc(spark, str(d))
        assert df.rdd.getNumPartitions() > 1, "file did not split"
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(rows) == 200
    assert {r["url"] for r in rows} == {f"http://s.example/{i}" for i in range(200)}
    by_url = {r["url"]: bytes(r["html"]).decode() for r in rows}
    assert by_url["http://s.example/7"].startswith("<html><p>body 7 ")


def test_run_extract_from_warc_dir(spark, tmp_path):
    """The flagship job ingests a WARC drop directly (--input-format warc):
    end-to-end through extraction, all sinks written."""
    import os
    import subprocess
    import sys

    from deepseek_ocr_spark.datagen.synth import driver_row_to_html

    html = driver_row_to_html(7, "warc ingestion body text for the job")
    warc = _warc_record("http://w.example/j1", "2024-03-04T05:06:07Z",
                        html.decode("utf-8"))
    d = tmp_path / "warc_job_in"
    d.mkdir()
    (d / "seg.warc").write_text(warc, newline="")
    out = str(tmp_path / "out")

    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo"
    r = subprocess.run(
        [sys.executable, "-m", "deepseek_ocr_spark.jobs.run_extract",
         "--input", str(d), "--input-format", "warc", "--output", out],
        capture_output=True, text=True, timeout=240, env=env, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(f"{out}/extracted")
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["url"] == "http://w.example/j1"
    assert "Warc Ingestion Body Text" in rows[0]["text"]
    assert "<--- Page Split --->" in rows[0]["text"]


def test_orc_source_and_sink_roundtrip(spark, tmp_path):
    """ORC is a Spark built-in: write the documents shape, read it back
    through the aligned loader; missing columns come back NULL."""
    from deepseek_ocr_spark.sources.catalog import (
        load_documents_orc,
        write_documents_orc,
    )

    df = spark.createDataFrame(
        [("u1", b"<p>a</p>", "hello", "en"), ("u2", b"", None, None)],
        "url string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.expr("timestamp'2025-03-01 00:00:00'"))
    p = str(tmp_path / "docs_orc")
    write_documents_orc(df, p)
    back = load_documents_orc(spark, p)
    assert back.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r["url"]: r for r in back.collect()}
    assert bytes(rows["u1"]["html"]) == b"<p>a</p>"
    assert rows["u2"]["text"] is None
    # absent column → NULL-typed: drop one column and reload
    write_documents_orc(df.drop("lang"), p + "2")
    assert load_documents_orc(spark, p + "2").select("lang").distinct().collect()[0][0] is None


def test_csv_source_permissive(spark, tmp_path):
    from deepseek_ocr_spark.sources.catalog import load_documents_csv

    p = tmp_path / "docs.csv"
    p.write_text(
        "url,warc_ts,html,text,lang\n"
        'u1,2025-03-01T00:00:00,"<p>x</p>",t1,en\n'
        "u2,not-a-timestamp-at-all,bad row that still lands,,\n"
    )
    df = load_documents_csv(spark, str(p))
    rows = {r["url"]: r for r in df.collect()}
    assert bytes(rows["u1"]["html"]) == b"<p>x</p>"
    assert rows["u1"]["lang"] == "en"
    assert rows["u2"]["warc_ts"] is None  # malformed field nulled, row kept


def test_every_loader_emits_the_docs_schema_warc_ts_type(spark, tmp_path):
    """One ``warc_ts`` type across loaders, so a table from any of them
    reads back with ``DOCS_SCHEMA`` (the stream source) or unions with
    another loader's output without a type mismatch."""
    from deepseek_ocr_spark.sources.catalog import (
        DOCS_SCHEMA,
        load_documents_csv,
        load_documents_orc,
        write_documents_orc,
    )
    from deepseek_ocr_spark.sources.warc import load_documents_jsonl, load_documents_warc

    (tmp_path / "html").mkdir()
    (tmp_path / "html" / "d.html").write_bytes(b"<p>d</p>")
    (tmp_path / "warc").mkdir()
    (tmp_path / "warc" / "s.warc").write_text(
        _warc_record("http://w.example/", "2024-01-02T03:04:05Z", "<p>w</p>"), newline=""
    )
    (tmp_path / "d.jsonl").write_text('{"url": "u", "warc_ts": "2024-01-01T00:00:00"}\n')
    (tmp_path / "d.csv").write_text("url,warc_ts,html,text,lang\nu,2024-01-01T00:00:00,,,\n")
    write_documents_orc(
        spark.createDataFrame([("u", None, b"", None, None)], DOCS_SCHEMA), str(tmp_path / "orc")
    )

    loaded = {
        "dir": load_documents_dir(spark, str(tmp_path / "html")),
        "warc": load_documents_warc(spark, str(tmp_path / "warc")),
        "jsonl": load_documents_jsonl(spark, str(tmp_path / "d.jsonl")),
        "csv": load_documents_csv(spark, str(tmp_path / "d.csv")),
        "orc": load_documents_orc(spark, str(tmp_path / "orc")),
    }
    want = DOCS_SCHEMA["warc_ts"].dataType
    assert {k: df.schema["warc_ts"].dataType for k, df in loaded.items()} == {
        k: want for k in loaded
    }
    # the WARC-Date instant survives the type change (session zone is UTC)
    assert loaded["warc"].selectExpr("cast(warc_ts as string)").head()[0] == "2024-01-02 03:04:05"
