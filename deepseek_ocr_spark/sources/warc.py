"""WARC + JSONL document sources — the Common-Crawl ingestion formats
(north_rule: "Iceberg tables of Common-Crawl-style web pages"; before the
tabularization step, CC ships WARC files and derived JSONL).

``load_documents_warc`` parses uncompressed WARC 1.0 response records with
pure Catalyst string expressions — no Python on the data path:

  record-delimited text scan (``lineSep`` = the record boundary
  "\\r\\n\\r\\nWARC/1.0\\r\\n" → Hadoop LineRecordReader with a custom
  delimiter, one ROW PER RECORD and SPLITTABLE: a 1 GB CC segment fans out
  across tasks at ``spark.sql.files.maxPartitionBytes`` granularity, and a
  record straddling a split boundary is read to its terminator by the task
  owning its start) → keep WARC-Type: response → header fields via
  regexp_extract → payload = bytes after the HTTP header block (the second
  CRLFCRLF).

Scale notes:
- Rows are bounded by one RECORD (a page), not one FILE — the r2
  wholetext formulation made a ~1 GB segment a single JVM string row and
  killed intra-file parallelism; this reader replaces it with the same
  Catalyst parse over splittable input (CC's raw .warc.gz additionally
  needs a gzip-splitting codec, a JVM datasource concern — the parse is
  identical either way).
- KNOWN LIMITATION (content sniffing): record boundaries are detected by
  the byte sequence, not by Content-Length — a response payload that
  itself contains "\\r\\n\\r\\nWARC/1.0\\r\\n" (e.g. an archived page about
  WARC) falsely splits; the real record's payload is truncated at that
  point and the trailing fragment, lacking a "WARC-Type: response" header
  of its own, is dropped by the response filter rather than surfacing as a
  phantom document. A Content-Length-driven reader needs a custom Hadoop
  InputFormat; at CC scale the false-split rate is ~0 for honest corpora
  and bounded to self-referential pages otherwise.

``load_documents_jsonl`` is the schema-on-read path with PERMISSIVE mode: a
corrupt line lands in ``_corrupt_record`` instead of failing the scan
(hostile-corpus rule), and the explicit schema keeps the scan single-pass
(no inference job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_REC_SEP = "\r\n\r\nWARC/1.0\r\n"


def load_documents_warc(spark: SparkSession, path: str, glob: str = "*.warc") -> DataFrame:
    """Directory of uncompressed .warc files → input_hint shape
    (url, warc_ts, html, text, lang); only WARC-Type: response records.

    Record anatomy handled: ``WARC/1.0\\r\\n<warc headers>\\r\\n\\r\\n
    <http headers>\\r\\n\\r\\n<payload>\\r\\n\\r\\n`` — records delimited on
    the terminator+next-version-line boundary at the Hadoop reader level
    (splittable, one row per record), payload taken as the third
    CRLFCRLF-delimited segment (limit-3 split so payload-internal blank
    lines survive), trailing record terminator trimmed."""
    files = (
        spark.read.format("text")
        .option("lineSep", _REC_SEP)
        .option("pathGlobFilter", glob)
        .load(path)
    )
    # the FIRST record of each file is not preceded by the delimiter, so it
    # alone retains its version line — strip it to normalize
    recs = files.select(
        F.regexp_replace(F.col("value"), "^WARC/1\\.0\r\n", "").alias("rec")
    ).filter(F.col("rec") != "")
    parts = F.split(F.col("rec"), "\r\n\r\n", 3)
    hdr = F.element_at(parts, 1)
    html = F.regexp_replace(
        F.element_at(parts, 3), r"(\r\n)+$", ""
    )  # trim the record terminator
    is_response = hdr.contains("WARC-Type: response")
    uri = F.regexp_extract(hdr, r"WARC-Target-URI:\s*(\S+)", 1)
    date = F.regexp_extract(hdr, r"WARC-Date:\s*(\S+)", 1)
    return (
        recs.filter(is_response & (uri != "") & (F.size(parts) >= 3))
        .select(
            uri.alias("url"),
            F.to_timestamp(date).alias("warc_ts"),
            F.encode(html, "UTF-8").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


JSONL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def load_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL drop → input_hint shape; corrupt lines survive the scan in
    ``_corrupt_record`` (quarantine-able) instead of failing the job."""
    raw = (
        spark.read.schema(JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return raw.select(
        "url",
        "warc_ts",
        F.encode(F.coalesce(F.col("html"), F.lit("")), "UTF-8").alias("html"),
        "text",
        "lang",
        "_corrupt_record",
    )
