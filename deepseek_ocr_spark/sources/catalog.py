"""Document sources (SURVEY.md O-1/O-2 scan analogs).

The reference scans a directory of files (glob.glob(INPUT_PATH/*),
run_dpsk_ocr_eval_batch.py:99-107). The Spark-native equivalents:

- ``spark.read.parquet``      — the standard columnar path (input_hint shape,
  ``DOCS_SCHEMA``)
- ``load_documents_dir``      — ``binaryFile`` datasource over a directory of
  html files: path→url, content→html; modificationTime→warc_ts. Used for
  raw-crawl drops that haven't been tabularized yet.
- ``load_documents_iceberg``  — Iceberg catalog table, gated behind a
  try/except since the sandbox has no Iceberg runtime jars; on a real
  cluster this is the primary path (north_rule: Iceberg tables of
  Common-Crawl-style pages) and inherits snapshot isolation + partition
  pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the documents table shape (BASELINE.json input_hint, FIXTURES.md §1)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def load_documents_dir(spark: SparkSession, path: str, glob: str = "*.html") -> DataFrame:
    """Directory of html files → input_hint shape.

    binaryFile pushes the pathGlobFilter down to file listing; content is
    read lazily per split, so column pruning applies if html is unused.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when iceberg-spark-runtime is on the classpath. Gates the CI
    lane (tests/test_iceberg.py runs the write/read-back/snapshot check
    when this is true and self-skips otherwise — see docs/ICEBERG.md for
    the manual verification recipe)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def configure_local_iceberg_catalog(
    spark: SparkSession, name: str, warehouse: str
) -> None:
    """Register a hadoop-type Iceberg catalog on a LIVE session (catalog
    configs resolve lazily on first use, so no session restart needed) —
    the shape a production deployment sets at spark-submit time via
    --conf spark.sql.catalog.<name>.*."""
    spark.conf.set(f"spark.sql.catalog.{name}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{name}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse", warehouse)


def load_documents_iceberg(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """Iceberg table path (north_rule: the primary production source) —
    inherits snapshot isolation, hidden-partition pruning, and time travel.
    ``snapshot_id`` pins a read for replayable runs (the checkpoint/resume
    contract wants every retry to see the same table state).

    Raises a clear error when the runtime lacks the Iceberg jars (this
    sandbox); the call shape is the production contract."""
    if not iceberg_available(spark):
        raise RuntimeError(_NO_ICEBERG_MSG)
    # jars present: let real errors (bad identifier, catalog misconfig)
    # surface as themselves instead of masquerading as a missing runtime
    reader = spark.read.format("iceberg")
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.load(table)


def write_documents_iceberg(
    df: DataFrame, table: str, url_buckets: int = 64
) -> None:
    """Create-or-replace an Iceberg documents table partitioned the way the
    north_star describes: days(warc_ts) for crawl-time pruning × bucket(N,
    url) to spread hot domains (the salted, size-bucketed layout — bucket
    transforms ARE the salt, applied by the table format so every writer
    and reader agrees). DataFrameWriterV2 so partitioning is declared on
    the table, not re-derived per job."""
    if not iceberg_available(df.sparkSession):
        raise RuntimeError(_NO_ICEBERG_MSG)
    (
        df.writeTo(table)
        .partitionedBy(F.days("warc_ts"), F.bucket(url_buckets, "url"))
        .createOrReplace()
    )


_NO_ICEBERG_MSG = (
    "Iceberg runtime not available in this environment; add "
    "org.apache.iceberg:iceberg-spark-runtime to spark.jars.packages "
    "and configure a catalog (spark.sql.catalog.*) — see docs/ICEBERG.md"
)


def load_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC drop → input_hint shape.  ORC is a Spark built-in (no extra
    jar): predicate pushdown and column pruning reach the reader the
    same way they do for parquet, so downstream plans are
    format-agnostic.  Columns are aligned by NAME to the documents
    schema; extras are dropped, absences come back NULL-typed."""
    raw = spark.read.orc(path)
    cols = set(raw.columns)
    want = [
        ("url", "string"), ("warc_ts", "timestamp"),
        ("html", "binary"), ("text", "string"), ("lang", "string"),
    ]
    return raw.select(
        *[
            F.col(n).cast(t).alias(n) if n in cols
            else F.lit(None).cast(t).alias(n)
            for n, t in want
        ]
    )


def write_documents_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib default codec) — the columnar-sink sibling of the
    parquet writers; partitioning/bucketing compose exactly as for
    parquet since both ride the same FileFormat machinery."""
    df.write.mode(mode).orc(path)


def load_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV drop → input_hint shape, PERMISSIVE like the JSONL reader:
    malformed lines land in ``_corrupt_record`` for quarantine instead
    of failing the scan (html arrives text-typed in CSV and is encoded
    to binary here)."""
    schema = (
        "url string, warc_ts timestamp, html string, text string, "
        "lang string, _corrupt_record string"
    )
    raw = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return raw.select(
        "url",
        "warc_ts",
        F.encode(F.coalesce(F.col("html"), F.lit("")), "UTF-8").alias("html"),
        "text",
        "lang",
        "_corrupt_record",
    )
