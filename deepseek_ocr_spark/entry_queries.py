"""Query registry backing ``__spark_entry__`` — one entry per implemented
operator (SURVEY.md §2 ★ rows + the training-data op families), each with a
DuckDB oracle SQL unless marked rows-only.

Each callable takes (spark, sf_dir) and returns a DataFrame whose column
names match the oracle SQL exactly (the driver hashes values under sorted
column names).
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_spark.kernels.tokens import grid_side
from deepseek_ocr_spark.config import BASE_SIZE, IMAGE_SIZE
from deepseek_ocr_spark.operators import (
    corpus_stats,
    dedup,
    multimodal,
    ngram_window,
    relational,
    similarity,
    temporal,
    textops,
    traindata,
)
from deepseek_ocr_spark.operators.tiling_relational import (
    tile_plan_sql,
    token_splice_segments,
    token_splice_segments_sql,
    vision_tokens_col,
    with_tile_plan,
)
from deepseek_ocr_spark.rowmap import map_rows
from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _t(name: str):
    """Reader for a driver TPC-H-shaped table."""
    return lambda spark, sf_dir: spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Synthetic page dims derived from doc_id (same formula in SQL) — gives the
# tile planner a full spread of aspect ratios/areas over driver data.
_DIMS_SQL = (
    "SELECT doc_id, 320 + (doc_id*37) % 2240 AS width, "
    "320 + (doc_id*53) % 2240 AS height FROM documents"
)


def _dims_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        (F.lit(320) + (d * 37) % 2240).cast("int").alias("width"),
        (F.lit(320) + (d * 53) % 2240).cast("int").alias("height"),
    )


# --- extraction-core relational queries -------------------------------------


def q_tile_plan_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-23/O-10/O-11: broadcast cross-join argmin with area tiebreak."""
    return with_tile_plan(_dims_df(spark, sf_dir), ["doc_id"]).select(
        "doc_id", "width", "height", "nw", "nh"
    )


Q_TILE_PLAN_SQL = tile_plan_sql(_DIMS_SQL, ["doc_id"])


def q_vision_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-13 (+O-18 bypass): vision-token budget as a column expression."""
    planned = with_tile_plan(_dims_df(spark, sf_dir), ["doc_id"])
    return planned.select(
        "doc_id",
        "nw",
        "nh",
        vision_tokens_col(F.col("nw"), F.col("nh")).alias("n_vision_tokens"),
    )


_HG = grid_side(BASE_SIZE)
_H2 = grid_side(IMAGE_SIZE)
Q_VISION_TOKENS_SQL = f"""
WITH planned AS ({tile_plan_sql(_DIMS_SQL, ["doc_id"])})
SELECT doc_id, nw, nh,
       CAST({_HG} * {_HG + 1}
            + CASE WHEN nw > 1 OR nh > 1 THEN (nh * {_H2}) * (nw * {_H2} + 1) ELSE 0 END
            + 1 AS BIGINT) AS n_vision_tokens
FROM planned
"""


def q_token_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-16 budget accounting: per-doc token-sequence layout segments
    (global grid + per-tile local grid + separator), relationally."""
    planned = with_tile_plan(_dims_df(spark, sf_dir), ["doc_id"])
    nw, nh = F.col("nw"), F.col("nh")
    global_t = F.lit(_HG * (_HG + 1))
    local_t = F.when((nw > 1) | (nh > 1), (nh * _H2) * (nw * _H2 + 1)).otherwise(F.lit(0))
    return planned.select(
        "doc_id",
        global_t.cast("bigint").alias("global_tokens"),
        local_t.cast("bigint").alias("local_tokens"),
        (global_t + local_t + 1).cast("bigint").alias("total_tokens"),
    )


Q_TOKEN_LAYOUT_SQL = f"""
WITH planned AS ({tile_plan_sql(_DIMS_SQL, ["doc_id"])})
SELECT doc_id,
       CAST({_HG * (_HG + 1)} AS BIGINT) AS global_tokens,
       CAST(CASE WHEN nw > 1 OR nh > 1 THEN (nh * {_H2}) * (nw * {_H2} + 1)
                 ELSE 0 END AS BIGINT) AS local_tokens,
       CAST({_HG * (_HG + 1)}
            + CASE WHEN nw > 1 OR nh > 1 THEN (nh * {_H2}) * (nw * {_H2} + 1) ELSE 0 END
            + 1 AS BIGINT) AS total_tokens
FROM planned
"""


def q_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: the full distributed extraction pipeline over html pages
    deterministically derived from the driver documents table (kernel logic —
    not SQL-expressible; byte-identity vs the oracle is the pytest gate)."""
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents

    docs = docs_from_driver_table(spark, sf_dir)
    out = extract_documents(docs)
    return out.select(
        "url", "n_pages", "n_vision_tokens", "n_text_tokens", "digest"
    )


def q_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable projection of the flagship pipeline: (url, n_pages,
    n_vision_tokens). Page count and dims of the driver-derived corpus are
    closed-form in doc_id (datagen.synth.driver_page_count/driver_page_dims),
    so DuckDB re-derives both through the relational tile planner — an
    INDEPENDENT end-to-end check that the kernel's split → tile plan →
    token accounting matches the declarative spec. text/digest remain on
    the byte-identity pytest gate (not SQL-expressible)."""
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents

    out = extract_documents(docs_from_driver_table(spark, sf_dir))
    return out.select("url", "n_pages", "n_vision_tokens")


def _extract_summary_sql() -> str:
    from deepseek_ocr_spark.datagen.synth import PAGE_DIMS

    idx = "(doc_id * 7 + p * 3) % 5"
    w_case = " ".join(
        f"WHEN {i} THEN {w}" for i, (w, _h) in enumerate(PAGE_DIMS[:-1])
    ) + f" ELSE {PAGE_DIMS[-1][0]}"
    h_case = " ".join(
        f"WHEN {i} THEN {h}" for i, (_w, h) in enumerate(PAGE_DIMS[:-1])
    ) + f" ELSE {PAGE_DIMS[-1][1]}"
    dims_sql = f"""
SELECT doc_id, p,
       CASE {idx} {w_case} END AS width,
       CASE {idx} {h_case} END AS height
FROM (
  SELECT doc_id, unnest(range(
    CASE WHEN doc_id % 20 < 14 THEN 1
         WHEN doc_id % 20 < 18 THEN 2 + (doc_id // 20) % 2
         WHEN doc_id % 20 < 19 THEN 6
         ELSE 12 END)) AS p
  FROM documents
)"""
    return f"""
WITH planned AS ({tile_plan_sql(dims_sql, ["doc_id", "p"])})
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       CAST(count(*) AS INT) AS n_pages,
       CAST(sum({_HG} * {_HG + 1}
            + CASE WHEN nw > 1 OR nh > 1 THEN (nh * {_H2}) * (nw * {_H2} + 1) ELSE 0 END
            + 1) AS BIGINT) AS n_vision_tokens
FROM planned GROUP BY doc_id
"""


def docs_from_driver_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver documents table → input_hint shape (url, warc_ts, html, text,
    lang) with deterministic synthetic page HTML."""
    # The driver's sf parquet is a single file → one scan split; without an
    # explicit spread the derive/split stages would run on ONE task no matter
    # how many cores exist (observed: input partitions = 1). On a real CC
    # table the scan has thousands of splits; here the repartition stands in
    # for that. Cheap: shuffles only (doc_id, text, lang).
    return driver_docs_to_input(_docs(spark, sf_dir).select("doc_id", "text", "lang"))


def driver_docs_to_input(src: DataFrame) -> DataFrame:
    """(doc_id, text, lang) rows → input_hint shape with derived html."""
    from deepseek_ocr_spark.datagen.synth import driver_row_to_html

    epoch = datetime(2025, 1, 1, tzinfo=timezone.utc)

    def to_html(doc_id, text, lang):
        yield (
            f"doc://{doc_id}", epoch + timedelta(seconds=doc_id * 137),
            driver_row_to_html(doc_id, text), text, lang,
        )

    par = src.sparkSession.sparkContext.defaultParallelism
    return map_rows(
        src.select("doc_id", "text", "lang").repartition(par), to_html, DOCS_SCHEMA
    )


def replicated_driver_docs(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Deterministically replicate the driver corpus k× with distinct
    doc_ids (offset per copy) — same-job-bigger-input scaling evidence
    without external data."""
    base = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    copies = [
        base.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"), "text", "lang"
        )
        for i in range(k)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def q_tile_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-12 (Gundam grid geometry) relationally: explode the planned nw×nh
    grid into row-major crop boxes (image_process.py:66-78) — posexplode of
    a sequence, pure arithmetic per tile, no kernel call."""
    planned = with_tile_plan(_dims_df(spark, sf_dir), ["doc_id"])
    sz = F.lit(IMAGE_SIZE)
    tiled = planned.filter((F.col("nw") > 1) | (F.col("nh") > 1)).select(
        "doc_id", "nw", "nh",
        F.posexplode(F.sequence(F.lit(0), F.col("nw") * F.col("nh") - 1)).alias("tile_ix", "_k"),
    )
    k, nw = F.col("_k"), F.col("nw")
    return tiled.select(
        "doc_id",
        "tile_ix",
        ((k % nw) * sz).cast("int").alias("x1"),
        ((k / nw).cast("int") * sz).cast("int").alias("y1"),
        ((k % nw + 1) * sz).cast("int").alias("x2"),
        (((k / nw).cast("int") + 1) * sz).cast("int").alias("y2"),
    )


Q_TILE_BOXES_SQL = f"""
WITH planned AS ({tile_plan_sql(_DIMS_SQL, ["doc_id"])}),
tiled AS (
  SELECT doc_id, nw, nh, unnest(range(nw * nh)) AS k
  FROM planned WHERE nw > 1 OR nh > 1
)
SELECT doc_id, CAST(k AS INT) AS tile_ix,
       CAST((k % nw) * {IMAGE_SIZE} AS INT) AS x1,
       CAST((k // nw) * {IMAGE_SIZE} AS INT) AS y1,
       CAST((k % nw + 1) * {IMAGE_SIZE} AS INT) AS x2,
       CAST((k // nw + 1) * {IMAGE_SIZE} AS INT) AS y2
FROM tiled
"""


# --- registry ----------------------------------------------------------------

# name → (query_fn, oracle_sql_or_None). Definition order is readability
# order (grouped by family); the DRIVER order is imposed below via
# _DRIVER_HEAD — the correctness driver samples the FIRST 50 registry
# entries, so queries that have not yet produced a driver CORRECTNESS row
# must occupy the head. New queries go into _DRIVER_HEAD, never appended
# past position 50 (tests/test_entry_queries.py pins this).
_DEFS: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # extraction-core relational ops (SURVEY.md §2 ★)
    "tile_plan_argmin": (q_tile_plan_argmin, Q_TILE_PLAN_SQL),
    "vision_tokens": (q_vision_tokens, Q_VISION_TOKENS_SQL),
    "token_layout": (q_token_layout, Q_TOKEN_LAYOUT_SQL),
    "tile_boxes": (q_tile_boxes, Q_TILE_BOXES_SQL),
    # O-16: the exact image-token splice layout as an ordered segment table
    "token_splice_segments": (
        lambda s, d: token_splice_segments(
            with_tile_plan(_dims_df(s, d), ["doc_id"]), ["doc_id"]
        ),
        token_splice_segments_sql(_DIMS_SQL, ["doc_id"]),
    ),
    "deterministic_sample": (
        lambda s, d: textops.deterministic_sample(_docs(s, d)),
        textops.DETERMINISTIC_SAMPLE_SQL,
    ),
    "text_normalize": (
        lambda s, d: textops.text_normalize(_docs(s, d)),
        textops.TEXT_NORMALIZE_SQL,
    ),
    "url_normalize": (
        lambda s, d: textops.url_normalize(_docs(s, d)),
        textops.URL_NORMALIZE_SQL,
    ),
    "per_domain_cap": (
        lambda s, d: textops.per_domain_cap(_docs(s, d)),
        textops.PER_DOMAIN_CAP_SQL,
    ),
    "eos_filter": (
        lambda s, d: textops.eos_filter(_docs(s, d)),
        textops.EOS_FILTER_SQL,
    ),
    "ordered_assembly": (
        lambda s, d: textops.ordered_assembly(_docs(s, d)),
        textops.ORDERED_ASSEMBLY_SQL,
    ),
    "page_ordinals": (
        lambda s, d: textops.page_ordinals(_docs(s, d)),
        textops.PAGE_ORDINALS_SQL,
    ),
    "metrics_rollup": (
        lambda s, d: textops.metrics_rollup(_docs(s, d)),
        textops.METRICS_ROLLUP_SQL,
    ),
    "metrics_cube": (
        lambda s, d: textops.metrics_cube(_docs(s, d)),
        textops.METRICS_CUBE_SQL,
    ),
    # salted two-phase agg MUST give byte-identical results to the plain agg
    "metrics_rollup_salted": (
        lambda s, d: textops.metrics_rollup_salted(_docs(s, d)),
        textops.METRICS_ROLLUP_SQL,
    ),
    # composite end-to-end cleaning pass (dedup → language → quality)
    "corpus_clean": (
        lambda s, d: textops.corpus_clean(_docs(s, d)),
        textops.corpus_clean_sql(),
    ),
    "median_chars_by_lang": (
        lambda s, d: textops.median_chars_by_lang(_docs(s, d)),
        textops.MEDIAN_CHARS_SQL,
    ),
    "quantiles_by_lang": (
        lambda s, d: textops.quantiles_by_lang(_docs(s, d)),
        textops.QUANTILES_BY_LANG_SQL,
    ),
    "lang_source_pivot": (
        lambda s, d: textops.lang_source_pivot(_docs(s, d)),
        textops.LANG_SOURCE_PIVOT_SQL,
    ),
    "stratified_sample": (
        lambda s, d: textops.stratified_sample(_docs(s, d)),
        textops.stratified_sample_sql(),
    ),
    # r7: temperature-scaled source mixing (mT5 exponential smoothing) —
    # micro-unit-quantized n^alpha so the normalizing sum is exact
    "mixture_weights": (
        lambda s, d: textops.mixture_weights(_docs(s, d)),
        textops.mixture_weights_sql(),
    ),
    "span_extract": (
        lambda s, d: textops.span_extract(_docs(s, d)),
        textops.SPAN_EXTRACT_SQL,
    ),
    "cleanup_cascade": (
        lambda s, d: textops.cleanup_cascade(_docs(s, d)),
        textops.CLEANUP_CASCADE_SQL,
    ),
    "bbox_rescale": (
        lambda s, d: textops.bbox_rescale(_docs(s, d)),
        textops.BBOX_RESCALE_SQL,
    ),
    "formula_cleanup": (
        lambda s, d: textops.formula_cleanup(_docs(s, d)),
        textops.FORMULA_CLEANUP_SQL,
    ),
    "image_ref_substitution": (
        lambda s, d: textops.image_ref_substitution(_docs(s, d)),
        textops.IMAGE_REF_SUBSTITUTION_SQL,
    ),
    "anti_join_resume": (
        lambda s, d: textops.anti_join_resume(_docs(s, d)),
        textops.ANTI_JOIN_RESUME_SQL,
    ),
    "broadcast_dim_join": (
        lambda s, d: textops.broadcast_dim_join(_docs(s, d), _emb(s, d)),
        textops.BROADCAST_DIM_JOIN_SQL,
    ),
    "events_hourly": (
        lambda s, d: textops.events_hourly(_events(s, d)),
        textops.EVENTS_HOURLY_SQL,
    ),
    # temporal family: gap sessionization + as-of join (union-and-window)
    "sessionize": (
        lambda s, d: temporal.sessionize(_events(s, d)),
        temporal.sessionize_sql(),
    ),
    "asof_join_orders": (
        lambda s, d: temporal.asof_join(_events(s, d), _t("orders")(s, d)),
        temporal.ASOF_JOIN_SQL,
    ),
    # snapshot / revision dedup: newest row per key via max-struct agg
    "latest_event_per_user": (
        lambda s, d: temporal.latest_event_per_user(_events(s, d)),
        temporal.latest_event_per_user_sql(),
    ),
    "interval_join_views_clicks": (
        lambda s, d: temporal.interval_join_views_clicks(_events(s, d)),
        temporal.interval_join_views_clicks_sql(),
    ),
    "props_json_rollup": (
        lambda s, d: temporal.props_json_rollup(_events(s, d)),
        temporal.PROPS_JSON_ROLLUP_SQL,
    ),
    "daily_active_users": (
        lambda s, d: temporal.daily_active_users(_events(s, d)),
        temporal.DAILY_ACTIVE_USERS_SQL,
    ),
    # relational join/agg coverage over the TPC-H-shaped driver tables
    "tpch_pricing_summary": (
        lambda s, d: relational.pricing_summary(_t("lineitem")(s, d)),
        relational.PRICING_SUMMARY_SQL,
    ),
    "tpch_revenue_topn": (
        lambda s, d: relational.revenue_topn(
            _t("customer")(s, d), _t("orders")(s, d), _t("lineitem")(s, d)
        ),
        relational.REVENUE_TOPN_SQL,
    ),
    "tpch_star_region_rollup": (
        lambda s, d: relational.star_region_rollup(
            _t("lineitem")(s, d), _t("orders")(s, d), _t("customer")(s, d),
            _t("nation")(s, d), _t("region")(s, d),
        ),
        relational.STAR_REGION_ROLLUP_SQL,
    ),
    "semi_join_open_orders": (
        lambda s, d: relational.customers_with_open_orders(
            _t("customer")(s, d), _t("orders")(s, d)
        ),
        relational.CUSTOMERS_OPEN_ORDERS_SQL,
    ),
    "anti_join_parts_unordered": (
        lambda s, d: relational.parts_without_early_orders(
            _t("part")(s, d), _t("lineitem")(s, d)
        ),
        relational.PARTS_WITHOUT_EARLY_ORDERS_SQL,
    ),
    "salted_hot_key_join": (
        lambda s, d: relational.salted_hot_key_join(
            _t("lineitem")(s, d), _t("region")(s, d)
        ),
        relational.SALTED_HOT_KEY_JOIN_SQL,
    ),
    "supplier_nation_balance": (
        lambda s, d: relational.supplier_nation_balance(
            _t("supplier")(s, d), _t("nation")(s, d), _t("region")(s, d)
        ),
        relational.SUPPLIER_NATION_BALANCE_SQL,
    ),
    # deduplication family
    "dedup_exact": (
        lambda s, d: dedup.dedup_exact(_docs(s, d)),
        dedup.DEDUP_EXACT_SQL,
    ),
    "dedup_minhash_signatures": (
        lambda s, d: dedup.minhash_signatures(_docs(s, d)),
        dedup.minhash_sql(),
    ),
    "dedup_minhash_pairs": (
        lambda s, d: dedup.dedup_minhash_pairs(_docs(s, d)),
        dedup.dedup_minhash_pairs_sql(),
    ),
    "dedup_simhash": (
        lambda s, d: dedup.simhash(_docs(s, d)),
        dedup.simhash_sql(),
    ),
    "dedup_ngram_jaccard": (
        lambda s, d: dedup.ngram_jaccard_adjacent(_docs(s, d)),
        dedup.ngram_jaccard_sql(),
    ),
    # production-scale sketch parameterization (16 hashes / 4 bands) — the
    # Spark and SQL generators must stay in sync for ANY (K, B) setting
    # hot-bucket guard engaged: cap=2 excludes the corpus's size-3 buckets
    # (27 → 24 pairs at sf0.01), proving the capped path is not a no-op
    "dedup_minhash_pairs_capped": (
        lambda s, d: dedup.dedup_minhash_pairs(_docs(s, d), max_bucket=2),
        dedup.dedup_minhash_pairs_sql(max_bucket=2),
    ),
    "dedup_minhash_pairs_16x4": (
        lambda s, d: dedup.dedup_minhash_pairs(_docs(s, d), n_hashes=16, n_bands=4),
        dedup.dedup_minhash_pairs_sql(n_hashes=16, n_bands=4),
    ),
    # iterative: connected components over the candidate graph
    "dedup_components": (
        lambda s, d: dedup.dedup_components(_docs(s, d)),
        dedup.dedup_components_sql(),
    ),
    # bench.py times this name; it runs dedup_components (the one
    # components primitive) against the same oracle
    "dedup_components_logstar": (
        lambda s, d: dedup.dedup_components(_docs(s, d)),
        dedup.dedup_components_sql(),
    ),
    "dedup_minhash_verified": (
        lambda s, d: dedup.dedup_minhash_verified(_docs(s, d)),
        dedup.dedup_minhash_verified_sql(),
    ),
    # the steady-state daily-increment job: new batch probed against the
    # existing corpus's band table — no corpus self-pairing
    "dedup_incremental": (
        lambda s, d: dedup.dedup_incremental(_docs(s, d)),
        dedup.dedup_incremental_sql(),
    ),
    # C4/RefinedWeb global line dedup: first occurrence wins corpus-wide,
    # docs reassembled in order, blank lines bypass the window (skew + semantics)
    # substring-level dedup (Lee et al. 2022): duplicated 8-token windows
    # merged to per-doc spans — one digest exchange + one doc_id exchange.
    # Registry measures the MATERIALIZED dup_window_table path (r7): the
    # digest table is built once (the table the streaming probe consumes)
    # and the spans pass probes it — at sf0.1 a wash (1.089s vs 1.085s
    # min-of-4), at 100 TB strictly right (digests computed once, shared).
    "dedup_spans": (
        lambda s, d: dedup.dedup_spans(
            _docs(s, d),
            dup_table=dedup.dup_window_table(_docs(s, d)).localCheckpoint(),
        ),
        dedup.dedup_spans_sql(),
    ),
    "dedup_spans_cut": (
        lambda s, d: dedup.dedup_spans_cut(
            _docs(s, d),
            dup_table=dedup.dup_window_table(_docs(s, d)).localCheckpoint(),
        ),
        dedup.dedup_spans_cut_sql(),
    ),
    # pairs → components → keep-the-longest survivor selection
    "dedup_survivors": (
        lambda s, d: dedup.dedup_survivors(_docs(s, d)),
        dedup.dedup_survivors_sql(),
    ),
    "dedup_lines_global": (
        lambda s, d: dedup.dedup_lines_global(_docs(s, d)),
        dedup.dedup_lines_global_sql(),
    ),
    "dedup_embedding_cosine": (
        lambda s, d: similarity.embedding_near_dup(_emb(s, d)),
        similarity.embedding_near_dup_sql(),
    ),
    # similarity search
    "similarity_topk": (
        lambda s, d: similarity.cosine_topk(_emb(s, d)),
        similarity.cosine_topk_sql(),
    ),
    "similarity_ann_lsh": (
        lambda s, d: similarity.ann_lsh_topk(_emb(s, d)),
        similarity.ann_lsh_topk_sql(),
    ),
    # IVF (inverted-file) ANN — centroid codebook, n_probe bucket scan.
    # Measured via the MATERIALIZED-index path (ann_ivf_topk_indexed): the
    # index is built once up front and query plans read it — the 100 TB
    # deployment shape (assignments parquet partitioned by centroid_id).
    "similarity_ann_ivf": (
        lambda s, d: similarity.ann_ivf_topk_indexed(_emb(s, d)),
        similarity.ann_ivf_topk_sql(),
    ),
    # finer bucketing (8 planes / 256 buckets) — the 100 TB-ish setting
    "similarity_ann_lsh_256": (
        lambda s, d: similarity.ann_lsh_topk(_emb(s, d), n_planes=8),
        similarity.ann_lsh_topk_sql(n_planes=8),
    ),
    # ANN QUALITY tracked, not just plumbing: recall@k of every ANN variant
    # (r7: + the trained-codebook leg) vs the brute-force top-k
    "similarity_ann_recall": (
        lambda s, d: similarity.ann_recall(_emb(s, d)),
        similarity.ann_recall_sql(),
    ),
    # r7: codebook TRAINED on the corpus (fixed-iteration Lloyd's as a
    # driver loop of Spark jobs; DuckDB unrolls the same K iterations) —
    # recall@10 0.9 vs 0.2 for the literal codebook at sf0.01
    "ann_ivf_trained": (
        lambda s, d: similarity.ann_ivf_trained_topk(_emb(s, d)),
        similarity.ann_ivf_trained_sql(),
    ),
    # r7: batched ANN — top-1 neighbor for EVERY vector within its n_probe
    # centroid buckets (the SemDeDup shape); one centroid-keyed equi-join,
    # min-struct agg, never all-pairs
    "ann_ivf_topk_all": (
        lambda s, d: similarity.ann_ivf_topk_all(_emb(s, d)),
        similarity.ann_ivf_topk_all_sql(),
    ),
    # r7: the full SemDeDup operator — within-bucket cosine edges →
    # connected components → lowest-id representative per cluster
    "dedup_semantic": (
        lambda s, d: similarity.dedup_semantic(_emb(s, d)),
        similarity.dedup_semantic_sql(),
    ),
    # text analysis
    "langid_heuristic": (
        lambda s, d: textops.langid_heuristic(_docs(s, d)),
        textops.LANGID_SQL,
    ),
    "quality_score": (
        lambda s, d: textops.quality_score(_docs(s, d)),
        textops.QUALITY_SQL,
    ),
    "token_count": (
        lambda s, d: textops.token_count(_docs(s, d)),
        textops.TOKEN_COUNT_SQL,
    ),
    "doc_fingerprint": (
        lambda s, d: textops.doc_fingerprint(_docs(s, d)),
        textops.doc_fingerprint_sql(),
    ),
    # serving-layer sketch quality: approx_percentile must sit inside its
    # own rank-error guarantee vs the exact ranked pass (oracle = all TRUE)
    "quantiles_approx_quality": (
        lambda s, d: textops.quantiles_approx_quality(_docs(s, d)),
        textops.quantiles_approx_quality_sql(),
    ),
    # the published Gopher rule battery as per-doc booleans + overall pass
    "gopher_quality_flags": (
        lambda s, d: textops.gopher_quality_flags(_docs(s, d)),
        textops.gopher_quality_flags_sql(),
    ),
    # Gopher-style repetition filters (dup-line fraction, top-bigram
    # fraction) — the shuffle formulation, linear in document length
    "repetition_signals": (
        lambda s, d: textops.repetition_signals(_docs(s, d)),
        textops.REPETITION_SIGNALS_SQL,
    ),
    # Bloom seen-set sketch: build over half the corpus, probe all docs;
    # false positives are part of the oracle-tracked observable
    "bloom_membership": (
        lambda s, d: corpus_stats.bloom_membership(_docs(s, d)),
        corpus_stats.bloom_membership_sql(),
    ),
    # corpus statistics: oracle-tracked HLL sketch quality, tf-idf term
    # ranking, inverted-index build
    # low-cardinality column → exercises the small-range linear-counting
    # branch of the estimator
    "hll_distinct_sources": (
        lambda s, d: corpus_stats.hll_distinct(_docs(s, d), col="source"),
        corpus_stats.hll_distinct_sql(col="source"),
    ),
    "hll_distinct_texts": (
        lambda s, d: corpus_stats.hll_distinct(_docs(s, d), col="text"),
        corpus_stats.hll_distinct_sql(col="text"),
    ),
    "tfidf_top_terms": (
        lambda s, d: corpus_stats.tfidf_top_terms(_docs(s, d)),
        corpus_stats.tfidf_top_terms_sql(),
    ),
    # CCNet-style perplexity filter: corpus-trained add-one bigram LM
    "lm_bigram_score": (
        lambda s, d: corpus_stats.lm_bigram_score(_docs(s, d)),
        corpus_stats.lm_bigram_score_sql(),
    ),
    # BPE merge-candidate counts over the word-frequency table
    "bpe_top_pairs": (
        lambda s, d: corpus_stats.bpe_top_pairs(_docs(s, d)),
        corpus_stats.bpe_top_pairs_sql(),
    ),
    # r7: the actual K-merge training loop (driver-iterated over the word
    # table; corpus never rescanned; DuckDB unrolls the same K rounds)
    "bpe_merges": (
        lambda s, d: corpus_stats.bpe_merges(_docs(s, d)),
        corpus_stats.bpe_merges_sql(),
    ),
    # r7: APPLY the learned merges back to the corpus — symbol counts per
    # distinct word, one token join + one doc agg (train->apply->measure)
    "bpe_encode_stats": (
        lambda s, d: corpus_stats.bpe_encode_stats(_docs(s, d)),
        corpus_stats.bpe_encode_stats_sql(),
    ),
    # r7: CCNet head/middle/tail split — per-lang perplexity tertiles
    # (exact rank-against-count thresholds, broadcast back)
    "lm_ppl_buckets": (
        lambda s, d: corpus_stats.lm_ppl_buckets(_docs(s, d)),
        corpus_stats.lm_ppl_buckets_sql(),
    ),
    # driver contract: postings serialized to a comma-joined string (the
    # driver's pandas canonicalizer cannot hash list cells — r4 red row);
    # max_postings=50 exercises the stopword truncation live (df > 50
    # tokens exist at sf0.01, so the slice is not a no-op)
    "inverted_index": (
        lambda s, d: corpus_stats.inverted_index_csv(_docs(s, d), max_postings=50),
        corpus_stats.inverted_index_csv_sql(max_postings=50),
    ),
    # O-28 relational analog: sliding-window duplicate n-gram detector
    "ngram_repeat_flags": (
        lambda s, d: ngram_window.ngram_repeat_flags(_docs(s, d)),
        ngram_window.ngram_repeat_flags_sql(),
    ),
    # multimodal plumbing (fake decode has an exact oracle)
    "multimodal_decode": (
        lambda s, d: multimodal.decode_image_meta(_docs(s, d)),
        multimodal.DECODE_IMAGE_META_SQL,
    ),
    "multimodal_resize": (
        lambda s, d: multimodal.resize_meta(_docs(s, d)),
        multimodal.resize_meta_sql(),
    ),
    # driver contract: posexploded to scalar (doc_id, dim_ix, feature) rows
    # — array<double> cells crash the driver's canonicalizer (r4 red row)
    "multimodal_features": (
        lambda s, d: multimodal.extract_features_exploded(_docs(s, d)),
        multimodal.extract_features_exploded_sql(),
    ),
    "multimodal_frame_sample": (
        lambda s, d: multimodal.frame_sample(_docs(s, d)),
        multimodal.frame_sample_sql(),
    ),
    # audio lane (r5): REAL WAV build → RIFF re-parse → integer frame
    # energies; closed-form oracles (the decode_image_meta pattern)
    "audio_meta": (
        lambda s, d: multimodal.audio_meta(_docs(s, d)),
        multimodal.audio_meta_sql(),
    ),
    "audio_frame_energy": (
        lambda s, d: multimodal.audio_frame_energy(_docs(s, d)),
        multimodal.audio_frame_energy_sql(),
    ),
    # video lane (r5): REAL MP4 box-tree build → re-parse, closed-form oracle
    "video_meta": (
        lambda s, d: multimodal.video_meta(_docs(s, d)),
        multimodal.video_meta_sql(),
    ),
    # training-data pipeline ops (r5): PII redaction, benchmark
    # decontamination, sequence packing — all pure Catalyst
    "pii_scrub": (
        lambda s, d: traindata.pii_scrub(_docs(s, d)),
        traindata.pii_scrub_sql(),
    ),
    "contamination_3gram": (
        lambda s, d: traindata.contamination_flags(_docs(s, d)),
        traindata.contamination_flags_sql(),
    ),
    # P pinned to PACK_SHARDS so the static oracle SQL mirrors the value;
    # the deployable n_shards=None default derives P from the session
    "seq_pack": (
        lambda s, d: traindata.seq_pack(_docs(s, d), n_shards=traindata.PACK_SHARDS),
        traindata.seq_pack_sql(),
    ),
    # DSIR importance resampling (r7, Xie et al. 2023): hashed
    # unigram+bigram buckets, add-1 smoothed target-vs-raw log-ratio in
    # integer micro-nats, deterministic top-k (TakeOrderedAndProject).
    # n_buckets pinned below the deployable 10^4 default so every bucket
    # is populated at driver scale and the oracle mirrors the value.
    "dsir_select": (
        lambda s, d: traindata.dsir_topk(_docs(s, d), k=100, n_buckets=256),
        traindata.dsir_topk_sql(k=100, n_buckets=256),
    ),
    # trained quality/langid classifier (r7-late): fasttext-shaped
    # hashed-bucket linear model, HARD-sigmoid surrogate so training is
    # exact BIGINT arithmetic end-to-end (no exp() ULP risk); 12
    # full-batch gradient steps unrolled as MATERIALIZED CTEs in the
    # oracle (plain CTEs re-inline w{i-1} twice per step → exponential
    # parquet rescans — measured as an fd-exhaustion blowup at K=12).
    "quality_clf_scores": (
        lambda s, d: traindata.clf_topk(_docs(s, d), k=100),
        traindata.clf_topk_sql(k=100),
    ),
    # full pipeline (rows-only; byte-identity gated in pytest instead) +
    # the oracle-checkable projection of the same pipeline run
    "extract_pipeline": (q_extract_pipeline, None),
    "extract_summary": (q_extract_summary, _extract_summary_sql()),
}


# Driver-priority head: queries that still need a driver CORRECTNESS row,
# most-starved first. r7 rotation — (a) the 38 oracle-paired queries whose
# newest green row is r05 (they sat outside the r6 head): tile/token
# family, sampling/normalization, assembly/metrics/cleanup, temporal
# family, TPC-H family, simhash/jaccard/minhash-verified/incremental/
# components-iterative; (b) the five queries whose implementation or
# oracle changed in r7 (dedup_spans/_cut materialized-table path,
# lm_bigram_score integer micro-nats, latest_event_per_user total-order
# oracle, similarity_ann_recall trained leg); (c) the three r7-new
# queries (ann_ivf_trained, ann_ivf_topk_all, bpe_merges); (d) fill to 50
# with green-in-r6 queries from the MODULES r7 touched (similarity.py,
# corpus_stats.py, dedup.py). `extract_pipeline` (no oracle, permanently
# rows-only) stays PAST position 50 — a head slot that cannot go green is
# a wasted check; its SQL-expressible projection is oracled by
# `extract_summary` and its bytes by the pytest byte-identity gate.
_DRIVER_HEAD: list[str] = [
    # (a) newest green row is r05 — promote for evidence freshness
    "tile_plan_argmin",
    "vision_tokens",
    "token_layout",
    "tile_boxes",
    "token_splice_segments",
    "deterministic_sample",
    "text_normalize",
    "url_normalize",
    "per_domain_cap",
    "eos_filter",
    "ordered_assembly",
    "page_ordinals",
    "metrics_rollup",
    "metrics_cube",
    # metrics_rollup_salted ceded its slot to r7-new dsir_select: it is a
    # salting variant of metrics_rollup (same module/code path, r5-green,
    # unchanged since) and the head holds exactly 50 — a never-checked new
    # operator outranks a variant's evidence freshness
    "formula_cleanup",
    "image_ref_substitution",
    "anti_join_resume",
    "broadcast_dim_join",
    "events_hourly",
    "sessionize",
    "asof_join_orders",
    "interval_join_views_clicks",
    "props_json_rollup",
    "daily_active_users",
    "tpch_pricing_summary",
    "tpch_revenue_topn",
    "tpch_star_region_rollup",
    "semi_join_open_orders",
    "anti_join_parts_unordered",
    "salted_hot_key_join",
    "supplier_nation_balance",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    # dedup_minhash_pairs_16x4 ceded its slot to r7-late
    # quality_clf_scores: it is a banding variant of dedup_minhash_pairs
    # (same module/code path, r6-green, unchanged since) and the head
    # holds exactly 50 — a never-checked new operator outranks a
    # variant's evidence freshness (the metrics_rollup_salted precedent)
    "dedup_components",
    "dedup_minhash_verified",
    "dedup_incremental",
    # (b) implementation/oracle changed in r7 — must re-prove
    "dedup_spans",
    "dedup_spans_cut",
    "lm_bigram_score",
    "latest_event_per_user",
    "similarity_ann_recall",
    # (c) new in r7 — never driver-checked
    "ann_ivf_trained",
    "ann_ivf_topk_all",
    "bpe_merges",
    "dedup_semantic",
    "lm_ppl_buckets",
    "mixture_weights",
    "bpe_encode_stats",
    "dsir_select",
    "quality_clf_scores",
]

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    name: _DEFS[name] for name in _DRIVER_HEAD
}
REGISTRY.update({name: defn for name, defn in _DEFS.items() if name not in REGISTRY})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
