"""Plan lints over EVERY registry query: the structural rules that keep the
engine scale-safe must hold for the whole surface, not just the queries
someone remembered to .explain() by hand.

Rules:
- no row-at-a-time Python (BatchEvalPython) anywhere — Python only as
  Arrow-batched stages (ArrowEvalPython / MapInArrow / FlatMapGroups*);
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


def _lambda_bodies(plan: str):
    """Every ``lambdafunction(...)`` expression of a plan string, with
    balanced parentheses."""
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        yield plan[m.start():i]


@pytest.mark.parametrize(
    "op", ["minhash_signatures", "doc_fingerprint", "ngram_jaccard_adjacent"]
)
def test_shingle_transform_slices_a_projected_split(op, spark):
    """Shingle building splits each text once: the transform lambda slices
    a projected token column.  A ``split`` inside the lambda re-splits the
    whole document for every shingle — O(tokens²) per doc."""
    from deepseek_ocr_spark.operators import dedup, textops

    fn = getattr(dedup, op, None) or getattr(textops, op)
    plan = fn(spark.read.parquet(f"{SF_DIR}/documents.parquet"))._jdf.queryExecution()
    bodies = list(_lambda_bodies(plan.optimizedPlan().toString()))
    assert bodies, op
    assert not [b for b in bodies if "split(" in b], op


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
    index = S.corpus_semantic_index(emb.filter("vec_id % 5 != 0"), n_centroids)
    return S.semantic_filter_batch(
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
    splits: scan → one MapInArrow → final rows. No exchange (no url
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
    assert python == ["MapInArrow"], names
    for banned in ("Exchange", "ArrowEvalPython", "ObjectHashAggregate", "SortAggregate"):
        assert banned not in names, names
    # the output columns come straight from the MapInArrow node: no JVM
    # tail folding vision tokens (lambda functions) or hashing the text
    plan = _plan(df)
    for banned in ("lambdafunction", "sha2("):
        assert banned not in plan, plan


@pytest.mark.parametrize("op", ["lm_bigram_score", "lm_ppl_buckets"])
def test_lm_scores_tokenize_and_shuffle_each_table_once(op, spark):
    """The bigram LM explodes each document's tokens twice, once into
    per-doc bigram counts (doc_bg) and once into the unigram table; each
    feeds two consumers through one shared exchange. A doc_id filter
    inferred from lm_ppl_buckets' lang join, or a vocabulary count that
    prunes the unigram counts, would each add an explode and a shuffle."""
    from deepseek_ocr_spark.operators import corpus_stats

    df = getattr(corpus_stats, op)(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    df.collect()  # finalizes the adaptive plan
    names = [n.nodeName() for n in _nodes(df._jdf.queryExecution().executedPlan())]
    assert names.count("Generate") == 2, names
    assert names.count("ReusedExchange") == 2, names
    assert names.count("Exchange") == {"lm_bigram_score": 6, "lm_ppl_buckets": 7}[op], names


def test_mapinpandas_only_in_the_row_shell():
    """A per-row Python stage is a row function under rowmap.map_rows.
    Only the shell itself calls mapInPandas or mapInArrow; a new
    hand-written Arrow-batch loop shows up here as an extra call site."""
    import ast
    import pathlib

    import deepseek_ocr_spark

    allowed = {"rowmap.py"}
    root = pathlib.Path(deepseek_ocr_spark.__file__).parent
    extra = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInPandas", "mapInArrow")
                and rel not in allowed
            ):
                extra.append(f"{rel}:{node.lineno}")
    assert extra == []


def _package_sources():
    import pathlib

    import deepseek_ocr_spark

    root = pathlib.Path(deepseek_ocr_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), path.read_text()


def test_pdf_file_layout_only_in_pdfwrite():
    """Every PDF this package writes is framed by kernels/pdfwrite.py:
    object headers, the xref table and the startxref tail are spelled
    nowhere else. A writer with its own copy of the layout shows up here."""
    literals = (r"startxref\n", r"xref\n", r"0 obj\n")
    extra = [
        f"{rel}: {lit}"
        for rel, text in _package_sources()
        for lit in literals
        if lit in text and rel != "kernels/pdfwrite.py"
    ]
    assert extra == []


def test_pixel_bound_only_in_pixels():
    """The declared-dims sanity bound is pixels.MAX_PIXELS; an image kernel
    that spells its own copy shows up here."""
    extra = [
        rel
        for rel, text in _package_sources()
        if re.search(r"1\s*<<\s*28\b", text) and rel != "kernels/pixels.py"
    ]
    assert extra == []
