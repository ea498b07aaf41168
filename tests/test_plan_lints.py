"""Plan lints over EVERY registry query: the structural rules that keep the
engine scale-safe must hold for the whole surface, not just the queries
someone remembered to .explain() by hand.

Rules:
- no row-at-a-time Python (BatchEvalPython) anywhere — Python only as
  Arrow-batched stages (ArrowEvalPython / MapInPandas / FlatMapGroups*);
- no CartesianProduct — cross joins are only legal against broadcast
  literals (they compile to BroadcastNestedLoopJoin);
- every documents/lineitem parquet scan prunes columns (ReadSchema must not
  list the full table width when the query touches a subset);
- every embedding-pair operator scores its pairs in ONE salted Arrow
  cogroup spread over all shuffle partitions — no second pair lane.
"""

import re

import pytest

import __spark_entry__ as entry_mod
from deepseek_ocr_spark.operators import similarity as S
from deepseek_ocr_spark.streaming import semantic_stream as SS

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entry_mod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df, spark) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_lints(name, spark):
    plan = _plan(QUERIES[name](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_column_pruning_reaches_scan(spark):
    """Spot-check pruning on the widest tables: a projection of 2 lineitem
    columns must not scan all 11."""
    q = QUERIES["tpch_pricing_summary"](spark, SF_DIR)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", _formatted(q, spark))
    assert schemas, "no parquet scan found"
    for s in schemas:
        ncols = len([c for c in s.split(",") if ":" in c])
        assert ncols <= 6, f"lineitem scan reads {ncols} columns: {s}"

    q2 = QUERIES["langid_heuristic"](spark, SF_DIR)
    schemas2 = re.findall(r"ReadSchema: struct<([^>]*)", _formatted(q2, spark))
    assert schemas2, "no parquet scan found"
    for s in schemas2:
        assert "source" not in s, f"documents scan reads unused column: {s}"


def test_ivf_index_computed_once(spark):
    """INDEX/QUERY split, inline path: the executed plan of ann_ivf_topk
    must contain exactly ONE corpus×centroid join (probe selection is a
    driver-side 1-row lookup, not a second full-corpus cross join)."""
    from deepseek_ocr_spark.operators.similarity import ann_ivf_topk

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(ann_ivf_topk(df))
    n_cross = plan.count("BroadcastNestedLoopJoin")
    assert n_cross == 1, f"expected 1 corpus×centroid join, plan has {n_cross}"


def test_ivf_registry_query_reads_materialized_index(spark):
    """Deployment shape: the REGISTRY/bench query builds the index up front
    and the query-time plan READS it — zero corpus×centroid joins in the
    measured plan, index served from the cached table."""
    q = QUERIES["similarity_ann_ivf"](spark, SF_DIR)
    plan = _plan(q)
    # the index is an eagerly-checkpointed RDD: the query plan SCANS it
    # (ExistingRDD) and contains no corpus×centroid build join at all
    assert "ExistingRDD" in plan, "materialized assignments not read from checkpoint"
    assert "BroadcastNestedLoopJoin" not in plan, (
        "query-time plan still builds the index inline"
    )


def _nodes(node):
    """Every node of an executed plan, descending into adaptive plans and
    query stages (both are leaves of the plain tree)."""
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _nodes(node.executedPlan())
    elif name.endswith("QueryStage"):
        yield from _nodes(node.plan())
    kids = node.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _stream_probe(emb, n_centroids):
    index = SS.corpus_semantic_index(emb.filter("vec_id % 5 != 0"), n_centroids)
    return SS.semantic_filter_batch(
        emb.filter("vec_id % 5 = 0"), index, n_centroids=n_centroids
    )


PAIR_LANES = {
    "ann_ivf_topk_all_k1": lambda emb, nc: S.ann_ivf_topk_all(emb, k=1, n_centroids=nc),
    "ann_ivf_topk_all_k2": lambda emb, nc: S.ann_ivf_topk_all(emb, k=2, n_centroids=nc),
    "semantic_pairs": lambda emb, nc: S.semantic_pairs(emb, n_centroids=nc),
    "semantic_filter_batch": _stream_probe,
}


@pytest.mark.parametrize("lane", sorted(PAIR_LANES))
def test_pair_lanes_share_one_salted_cogroup(lane, spark):
    """Each embedding-pair operator scores its pairs in exactly one Arrow
    cogroup whose inputs keep every shuffle partition after AQE — never a
    JVM pair join and never collapsed to <= n_centroids tasks."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_centroids = max(1, n_part // 2)
    df = PAIR_LANES[lane](spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), n_centroids)
    df.collect()  # finalizes the adaptive plan
    nodes = list(_nodes(df._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    assert "CartesianProduct" not in names
    # nested-loop joins only score vectors against the broadcast codebook
    for n in nodes:
        if n.nodeName() == "BroadcastNestedLoopJoin":
            assert "cvec" in n.left().output().toString() + n.right().output().toString()
    cogroups = [n for n in nodes if n.nodeName() == "FlatMapCoGroupsInPandas"]
    assert len(cogroups) == 1, names
    kids = cogroups[0].children()
    assert [kids.apply(i).outputPartitioning().numPartitions() for i in range(2)] == [
        n_part,
        n_part,
    ]
    assert n_part > n_centroids


def test_extract_documents_is_one_python_stage(spark, tmp_path):
    """The flagship job on an input with at least defaultParallelism scan
    splits: scan → one MapInPandas → JVM tail. No exchange (no url
    shuffle), no second Python stage, no per-url aggregation."""
    from deepseek_ocr_spark.datagen.synth import gen_documents
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents

    n_part = spark.sparkContext.defaultParallelism * 2
    spark.createDataFrame(
        gen_documents(60), "url string, warc_ts timestamp, html binary, text string, lang string"
    ).repartition(n_part).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    df = extract_documents(docs)
    df.collect()
    nodes = list(_nodes(df._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    python = [
        n.nodeName() for n in nodes
        if n.getClass().getName().startswith("org.apache.spark.sql.execution.python.")
    ]
    assert python == ["MapInPandas"], names
    for banned in ("Exchange", "ArrowEvalPython", "ObjectHashAggregate", "SortAggregate"):
        assert banned not in names, names
