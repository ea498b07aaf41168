"""SparkSession builder with scale-oriented defaults.

Tuned for the 100 TB target even though the sandbox runs local[*]:
AQE on (runtime coalescing + skew-join splitting), Arrow batching sized so
the Python kernel stage sees real micro-batches (the continuous-batching
analog of the reference's max_num_seqs=100, vllm/config.py:13).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Cores for the local master: ``SPARK_GRAFT_CPUS`` when set, else the
    CPUs this process may run on (never more threads than cores)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def build_session(
    app_name: str = "deepseek-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # HotSpot refuses to JIT methods over 8000 bytecodes
        # (DontCompileHugeMethods), so a whole-stage-codegen method past
        # that limit runs in the bytecode interpreter — measured r8: the
        # unrolled fixed-dim cosine chain in ann_ivf_topk_all was 13x
        # SLOWER under one giant non-JITable method (210 s vs 16 s at the
        # x10 probe). Aligning Spark's fallback threshold with the JIT's
        # makes oversized stages fall back to split per-expression codegen
        # (small, JIT-able methods). JVM-rational at every scale — any
        # method past 8000 bytecodes is interpreted today regardless.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Generated-class cache: an LRU of compiled codegen classes (static
        # conf, Spark's default 100). A repeated unit of work whose working
        # set exceeds it evicts in a cycle and recompiles on every repeat.
        # Measured with BENCH/profile.py (4 cores, classes compiled
        # by a cold pass): perfbench corpus_curate's 4 timed stages 190, all
        # 24 curation stages 496, web_extract 8, one bench.py leaf at sf0.1
        # <= 131, all 58 leaves together 964. At 100 the 4 stages recompiled
        # ~121 classes (~1 s of Janino) per warm pass and the 24 stages
        # ~490 (3.2-3.7 s); at 2048 (2x the whole bench.py session) a warm
        # pass compiles only classes whose source changes per run.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # micro-batch size for iterator pandas UDFs — the max_num_seqs analog
        # (measured: 1024 ≈ 4096 > 256 by ~8% on the extraction stage; a GPU
        # kernel would tune this down toward its concurrency limit)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # 128 MB scan splits: sane parquet split size at cluster scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # pin the session timezone: F.window() aligns to epoch/UTC while
        # date_trunc uses the session zone — on a non-whole-hour-offset host
        # the two would bucket differently
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) since JVM start.

    Read from the JVM-wide Janino counters, which keep counting with
    ``spark.ui.enabled=false``: ``CodegenMetrics``' compilation-time
    histogram counts one sample per compiled class and
    ``CodeGenerator.compileTime`` sums the nanoseconds. A cache hit
    touches neither, so the delta over a pass is its recompiles. In local
    mode the executors share the driver JVM, so task-side compiles count
    too."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9
