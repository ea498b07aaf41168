"""Similarity search over an embedding column (array<float>).

Training-data-pipeline first-class ops (not in the reference): brute-force
cosine top-k as the correctness baseline, and an LSH-bucketed variant as the
scale path (random-hyperplane signs → bucket join → top-k within bucket).

Numerical determinism across Spark and the DuckDB oracle: dot products are
computed as an ORDERED left-to-right fold (F.aggregate over zip_with /
list_sum over an index comprehension), so both engines add the same floats
in the same order; results are rounded to 4 decimals before comparison.

Embedding-pair operators (ann_ivf_topk_all, semantic_pairs and
semantic_filter_batch, which the streaming semantic probe runs) share ONE
pair lane, _bucket_pairs: a salted
per-(centroid_id, salt) Arrow cogroup whose numpy body adds in the same
fold order and returns a provable superset of the pairs the Spark-side
round(cos, 4) selection can pick.

Scale notes: brute-force is a broadcast of the query vector (a literal) —
embarrassingly parallel scan, no shuffle until the global top-k (which is
a TakeOrdered, not a full sort). The LSH variant buckets the corpus once
(deterministic hyperplanes derived from dimension index), turning ANN into
a bucket-equi-join — the 100 TB path, since each probe touches one bucket.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Ordered fold dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Bit-identical to ``_dot`` for arrays of exactly ``dim`` elements,
    spelled as a fixed-width expression chain: the same 0.0 seed and the
    same left-to-right double additions, so IEEE semantics are unchanged —
    but the chain compiles under whole-stage codegen instead of running
    the interpreted ``aggregate``/``zip_with`` fold per row (guide §4.1:
    prefer built-in expressions). Used by the centroid scoring; pair
    cosines come from the Arrow scorer (_pair_score_fn)."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i].cast("double") * b[i].cast("double")
    return acc


def _norm_fixed(a: Column, dim: int) -> Column:
    """``_norm`` as a fixed-width codegen chain (see _dot_fixed)."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i].cast("double") * a[i].cast("double")
    return F.sqrt(acc)


def _fetch_embedding(emb: DataFrame, query_vec_id: int) -> list[float]:
    """One pushed-down 1-row lookup job; float32 → Python float is exact,
    so downstream double arithmetic is bit-identical to reading the row
    in-plan. ANN entry points fetch ONCE and share the vector across probe
    selection and final scoring (was: one lookup job per stage)."""
    qrow = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").head()
    if qrow is None:
        raise ValueError(f"query vec_id {query_vec_id} not found in embeddings")
    return [float(v) for v in qrow["embedding"]]


def cosine_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Brute-force cosine top-k vs the embedding of ``query_vec_id``.

    Returns (vec_id, cos) — the query vector itself excluded, ties broken by
    vec_id for determinism. Pass ``query_vec`` (from _fetch_embedding) to
    skip the lookup job when the caller already holds the vector.
    """
    if query_vec is None:
        query_vec = _fetch_embedding(emb, query_vec_id)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    e = F.col("embedding")
    cos = _dot(e, q) / (_norm(e) * _norm(q))
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", F.round(cos, 4).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def cosine_topk_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
scored AS (
  SELECT e.vec_id,
         round(
           list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                     FOR i IN range(1, len(e.embedding) + 1)])
           / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding]))
              * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN q.qv]))),
           4) AS cos
  FROM embeddings e, q
  WHERE e.vec_id != {query_vec_id}
)
SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


def embedding_near_dup(emb: DataFrame, threshold: float = 0.15) -> DataFrame:
    """Embedding-cosine near-dup: adjacent vec_id pairs with cosine above a
    threshold (banded pairing keeps the comparison linear; the LSH-bucketed
    variant below is the all-pairs scale path).

    Returns (a_vec_id, b_vec_id, cos, is_dup).
    """
    a = emb.alias("a")
    b = emb.alias("b")
    ea, eb = F.col("a.embedding"), F.col("b.embedding")
    cos = F.round(_dot(ea, eb) / (_norm(ea) * _norm(eb)), 4)
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("a_vec_id"),
            F.col("b.vec_id").alias("b_vec_id"),
            cos.alias("cos"),
        )
        .withColumn("is_dup", F.col("cos") >= threshold)
    )


def embedding_near_dup_sql(threshold: float = 0.15) -> str:
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id,
         round(
           list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                     FOR i IN range(1, len(a.embedding) + 1)])
           / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN a.embedding]))
              * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN b.embedding]))),
           4) AS cos
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT a_vec_id, b_vec_id, cos, (cos >= {threshold}) AS is_dup FROM pairs
"""


# Default bucket fan-out: 2^4 = 16 buckets — demo scale. At 100 TB each
# probe would still scan ~1/16 of the corpus, so ``n_planes`` is a real
# parameter everywhere below (Spark and SQL generators stay in sync); the
# registry oracle-checks a second setting at 8 planes / 256 buckets.
N_HYPERPLANES = 4


def _hyperplane_sign(e: Column, plane: int, dim: int) -> Column:
    """Deterministic pseudo-hyperplane: component i has sign
    (-1)^floor(i*(plane+2)/3) — a fixed ±1 pattern derived from the index,
    identical in SQL. Sign bit = (dot(e, plane) >= 0).

    Deliberately the interpreted fold, NOT an unrolled chain: measured r8
    x10 A/B, 8 unrolled planes (512 Add terms in one stage) ran 4x SLOWER
    than the fold (3.07 s vs 0.78 s) — past the JIT's huge-method limit a
    giant interpreted Add tree loses to the fold's small hot lambdas.
    The unrolled chain only wins with ONE fixed-dim expression per stage
    (the centroid scoring)."""
    proj = F.aggregate(
        F.zip_with(
            e,
            F.array(*[F.lit(_plane_coef(plane, i)) for i in range(dim)]),
            lambda x, c: x.cast("double") * c,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (proj >= 0).cast("int")


def _plane_coef(plane: int, i: int) -> float:
    return 1.0 if ((i * (plane + 2)) // 3) % 2 == 0 else -1.0


def lsh_buckets(
    emb: DataFrame, dim: int = 64, n_planes: int = N_HYPERPLANES
) -> DataFrame:
    """(vec_id, bucket) — random-hyperplane LSH bucket id (0..2^n_planes-1)."""
    e = F.col("embedding")
    bucket = None
    for p in range(n_planes):
        term = _hyperplane_sign(e, p, dim) * F.lit(1 << p)
        bucket = term if bucket is None else bucket + term
    return emb.select("vec_id", bucket.cast("int").alias("bucket"))


def lsh_buckets_sql(dim: int = 64, n_planes: int = N_HYPERPLANES) -> str:
    parts = []
    for p in range(n_planes):
        coefs = ", ".join(str(_plane_coef(p, i)) for i in range(dim))
        parts.append(
            f"(CASE WHEN list_sum([CAST(embedding[i] AS DOUBLE) * ([{coefs}])[i] "
            f"FOR i IN range(1, {dim} + 1)]) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    expr = " + ".join(parts)
    return f"SELECT vec_id, CAST({expr} AS INT) AS bucket FROM embeddings"


def ann_lsh_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    dim: int = 64,
    n_planes: int = N_HYPERPLANES,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """ANN: restrict the cosine scan to the query's LSH bucket (the scale
    path — each probe reads one bucket partition instead of the corpus).
    The candidate id set (one bucket, << corpus) is broadcast onto the
    embedding scan — the hint is always right because a bucket that doesn't
    fit in a broadcast means the bucketing itself failed."""
    qvec = query_vec if query_vec is not None else _fetch_embedding(emb, query_vec_id)
    # the query's bucket driver-side: identical left-to-right fold and a
    # SIGN test (no rounding anywhere), so it is bit-for-bit the value the
    # in-plan expression computes — one lookup job instead of three.
    # NaN parity: Spark SQL orders NaN above every value, so in-plan
    # `proj >= 0` is TRUE for a NaN projection — Python must match or a
    # corrupt embedding would be bucketed differently here than in the
    # corpus-side lsh_buckets expression.
    import math

    qb = 0
    for p in range(n_planes):
        proj = 0.0
        for i, x in enumerate(qvec[:dim]):
            proj = proj + x * _plane_coef(p, i)
        if proj >= 0 or math.isnan(proj):
            qb += 1 << p
    buckets = lsh_buckets(emb, dim, n_planes)
    cands = buckets.filter((F.col("bucket") == qb) & (F.col("vec_id") != query_vec_id))
    return cosine_topk(
        emb.join(F.broadcast(cands.select("vec_id")), "vec_id", "inner").unionByName(
            emb.filter(F.col("vec_id") == query_vec_id)
        ),
        query_vec_id,
        k,
        query_vec=qvec,
    )


def ann_lsh_topk_sql(
    query_vec_id: int = 0, k: int = 10, dim: int = 64, n_planes: int = N_HYPERPLANES
) -> str:
    return f"""
WITH buckets AS ({lsh_buckets_sql(dim, n_planes)}),
qb AS (SELECT bucket FROM buckets WHERE vec_id = {query_vec_id}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
cands AS (
  SELECT b.vec_id FROM buckets b, qb
  WHERE b.bucket = qb.bucket AND b.vec_id != {query_vec_id}
),
scored AS (
  SELECT e.vec_id,
         round(
           list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                     FOR i IN range(1, len(e.embedding) + 1)])
           / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding]))
              * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN q.qv]))),
           4) AS cos
  FROM embeddings e JOIN cands c ON e.vec_id = c.vec_id, q
)
SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


# --- IVF (inverted-file) ANN — the centroid-bucketed scale path ----------------

N_CENTROIDS = 16
N_PROBE = 2


def _centroid_coef(cid: int, i: int) -> float:
    """Deterministic pseudo-centroid component — a ±1 pattern family
    distinct from the LSH hyperplanes (same philosophy: a real deployment
    trains a k-means codebook offline; the INDEX/QUERY dataflow — assign,
    probe, bucket-restricted scan — is what this operator exercises, and a
    fixed codebook keeps it data-independent and SQL-literal)."""
    return 1.0 if ((i * (cid + 3)) // 5) % 2 == 0 else -1.0


def _centroids(n_centroids: int, dim: int):
    return [
        (cid, [_centroid_coef(cid, i) for i in range(dim)])
        for cid in range(n_centroids)
    ]


def _scored_against_centroids(
    emb: DataFrame, n_centroids: int, dim: int, codebook=None
) -> DataFrame:
    """(vec_id, centroid_id, ccos) via a broadcast n_centroids-row cross
    join — same shape as the tile-plan argmin. ``codebook`` overrides the
    deterministic literal centroids (the trained-k-means path)."""
    spark = emb.sparkSession
    cent_df = F.broadcast(
        spark.createDataFrame(
            codebook if codebook is not None else _centroids(n_centroids, dim),
            "centroid_id INT, cvec ARRAY<DOUBLE>",
        )
    )
    e, c = F.col("embedding"), F.col("cvec")
    # fixed-dim codegen chain — bit-identical to the _dot/_norm folds
    # (same seed, same add order), ~an order of magnitude cheaper per row
    cos = _dot_fixed(e, c, dim) / (_norm_fixed(e, dim) * _norm_fixed(c, dim))
    return emb.crossJoin(cent_df).select(
        "vec_id", "centroid_id", F.round(cos, 6).alias("ccos")
    )


def ivf_assignments(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, dim: int = 64, codebook=None
) -> DataFrame:
    """(vec_id, centroid_id) — each vector assigned to its max-cosine
    centroid (ties → lowest centroid_id). Map-side min(struct) argmax over
    the broadcast codebook — zero shuffle; at 100 TB this is the
    materialized index table, written partitioned by centroid_id."""
    scored = _scored_against_centroids(emb, n_centroids, dim, codebook=codebook)
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct((-F.col("ccos")).alias("nc"), F.col("centroid_id").alias("cid"))
        ).alias("b")
    )
    return best.select("vec_id", F.col("b.cid").alias("centroid_id"))


def ivf_probe_centroids(
    emb: DataFrame,
    query_vec_id: int = 0,
    n_probe: int = N_PROBE,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
    query_vec: list[float] | None = None,
    codebook=None,
) -> list[int]:
    """The ``n_probe`` centroid ids nearest the query vector.

    With ``query_vec`` supplied, probe scoring runs over a LOCAL 1-row
    frame — no table scan at all; otherwise one pushed-down 1-row lookup.
    Either way the scoring uses the identical Spark EXPRESSIONS as the
    index side (same round(…,6), same tie-break), so probe choice is
    bit-for-bit the one the old full-corpus formulation made — driver-side
    Python rounding would not carry that guarantee."""
    if query_vec is None:
        src = emb.filter(F.col("vec_id") == query_vec_id)
    else:
        src = emb.sparkSession.createDataFrame(
            [(query_vec_id, [float(v) for v in query_vec])],
            "vec_id INT, embedding ARRAY<DOUBLE>",
        )
    scored = _scored_against_centroids(src, n_centroids, dim, codebook=codebook)
    rows = (
        scored.orderBy(F.col("ccos").desc(), F.col("centroid_id"))
        .limit(n_probe)
        .collect()
    )
    if not rows:
        raise ValueError(f"query vec_id {query_vec_id} not found in embeddings")
    return [r["centroid_id"] for r in rows]


def ann_ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    dim: int = 64,
    assignments: DataFrame | None = None,
    query_vec: list[float] | None = None,
    codebook=None,
) -> DataFrame:
    """IVF ANN: scan only the ``n_probe`` centroid buckets nearest the
    query — the inverted-file counterpart to the hyperplane-LSH path; each
    probe prunes to ~n_probe/n_centroids of the corpus.

    INDEX/QUERY split: probe centroids come from the query row alone
    (ivf_probe_centroids — literal ids by the time this plan is built), and
    the corpus-wide centroid assignment appears exactly ONCE — pass a
    persisted/materialized ``assignments`` table (the 100 TB deployment:
    ivf_assignments written partitioned by centroid_id, so the isin filter
    below becomes partition pruning) or let it be computed inline once.
    The old formulation recomputed the corpus×centroid cross join twice per
    query; tests/test_plan_lints.py now pins the single-join shape."""
    qvec = query_vec if query_vec is not None else _fetch_embedding(emb, query_vec_id)
    probes = ivf_probe_centroids(
        emb, query_vec_id, n_probe, n_centroids, dim, query_vec=qvec,
        codebook=codebook,
    )
    if assignments is None:
        assignments = ivf_assignments(emb, n_centroids, dim, codebook=codebook)
    cand = (
        assignments.filter(F.col("centroid_id").isin(probes))
        .select("vec_id")
    )
    return cosine_topk(
        emb.join(F.broadcast(cand), "vec_id", "inner")
        .unionByName(emb.filter(F.col("vec_id") == query_vec_id))
        .dropDuplicates(["vec_id"]),
        query_vec_id,
        k,
        query_vec=qvec,
    )


def ann_ivf_topk_indexed(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    dim: int = 64,
) -> DataFrame:
    """ann_ivf_topk with the index MATERIALIZED first — the deployment
    shape the registry/bench measure. At 100 TB ``ivf_assignments`` is a
    parquet table written once, partitioned by centroid_id (the probe
    filter becomes partition pruning); here the analog is an eagerly-built
    cached table, so query-time plans READ the index instead of paying the
    corpus×centroid build inline on every query (r3 bench measured the
    inline recompute: 1.58s vs the promised ~2× drop).

    Materialization is an EAGER localCheckpoint, not persist(): Dataset
    cache entries are only freed by explicit unpersist (repeated registry/
    bench invocations would accumulate them), while a checkpointed RDD is
    reclaimed by the ContextCleaner once the returned DataFrame goes out
    of scope."""
    assignments = ivf_assignments(emb, n_centroids, dim).localCheckpoint()
    return ann_ivf_topk(
        emb, query_vec_id, k, n_centroids, n_probe, dim, assignments=assignments
    )


def _centroids_values_sql(n_centroids: int, dim: int) -> str:
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(cid, ", ".join(str(v) for v in vec))
        for cid, vec in _centroids(n_centroids, dim)
    )
    return f"(VALUES {rows}) AS c(centroid_id, cvec)"


def ann_recall(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """(method, hits, recall) — recall@k of each ANN variant vs the
    brute-force cosine top-k on the same probe, so ANN QUALITY (not just
    plumbing) is oracle-tracked. A recall regression here means the sketch
    parameters stopped matching the corpus — the thing a 100 TB deployment
    monitors before trusting a cheaper index.

    Pure SQL-expressible composition of the existing ops: |ANN ∩ brute| / k
    per method (lsh_16, lsh_256, ivf)."""
    qvec = _fetch_embedding(emb, query_vec_id)  # ONE lookup shared by all legs
    brute = F.broadcast(
        cosine_topk(emb, query_vec_id, k, query_vec=qvec).select("vec_id")
    )
    # the ivf leg reads a materialized index, same as ann_ivf_topk_indexed
    # (eager localCheckpoint: GC-reclaimable, no cache-entry leak per call)
    assignments = ivf_assignments(emb, dim=dim).localCheckpoint()
    variants = [
        ("ivf", ann_ivf_topk(emb, query_vec_id, k, dim=dim, query_vec=qvec,
                             assignments=assignments)),
        ("ivf_trained", ann_ivf_trained_topk(emb, query_vec_id, k, dim=dim)),
        ("lsh_16", ann_lsh_topk(emb, query_vec_id, k, dim=dim, n_planes=4,
                                query_vec=qvec)),
        ("lsh_256", ann_lsh_topk(emb, query_vec_id, k, dim=dim, n_planes=8,
                                 query_vec=qvec)),
    ]
    out = None
    for method, df in variants:
        hits = (
            df.select("vec_id")
            .join(brute, "vec_id", "inner")
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(
                F.lit(method).alias("method"),
                "hits",
                (F.col("hits") / F.lit(float(k))).alias("recall"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


def ann_recall_sql(query_vec_id: int = 0, k: int = 10, dim: int = 64) -> str:
    def leg(method: str, inner: str) -> str:
        return f"""
SELECT '{method}' AS method, count(*) AS hits,
       count(*) / CAST({k} AS DOUBLE) AS recall
FROM ({inner}) a JOIN brute USING (vec_id)"""

    return f"""
WITH brute AS (SELECT vec_id FROM ({cosine_topk_sql(query_vec_id, k)}))
{leg("ivf", ann_ivf_topk_sql(query_vec_id, k, dim=dim))}
UNION ALL {leg("ivf_trained", ann_ivf_trained_sql(query_vec_id, k, dim=dim))}
UNION ALL {leg("lsh_16", ann_lsh_topk_sql(query_vec_id, k, dim, 4))}
UNION ALL {leg("lsh_256", ann_lsh_topk_sql(query_vec_id, k, dim, 8))}
"""


def ann_ivf_topk_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    dim: int = 64,
) -> str:
    ccos = (
        "round(list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cvec[i] "
        "FOR i IN range(1, len(e.embedding) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding])) "
        "* sqrt(list_sum([x * x FOR x IN c.cvec]))), 6)"
    )
    return f"""
WITH scored AS (
  SELECT e.vec_id, c.centroid_id, {ccos} AS ccos
  FROM embeddings e CROSS JOIN {_centroids_values_sql(n_centroids, dim)}
),
assignments AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
probe AS (
  SELECT centroid_id FROM scored WHERE vec_id = {query_vec_id}
  ORDER BY ccos DESC, centroid_id LIMIT {n_probe}
),
cand AS (
  SELECT a.vec_id FROM assignments a JOIN probe p USING (centroid_id)
  UNION SELECT {query_vec_id}
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
final AS (
  SELECT e.vec_id,
         round(
           list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                     FOR i IN range(1, len(e.embedding) + 1)])
           / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding]))
              * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN q.qv]))),
           4) AS cos
  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, qv q
  WHERE e.vec_id != {query_vec_id}
)
SELECT vec_id, cos FROM final ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


# --- trained IVF codebook: fixed-iteration Lloyd's k-means as a Spark job ----
# A real 100 TB ANN index trains its centroids on the data (FAISS IVF,
# SCANN); the literal codebook above keeps the dataflow data-independent,
# this section closes the quality gap. Driver loop of K Lloyd iterations —
# the same shape as dedup.components_from_edges: each round is one
# broadcast-assign job plus one quantized-mean recentre job; only the
# n_centroids×dim centroid table ever reaches the driver, never the corpus.

KMEANS_ITERS = 3


def kmeans_codebook(
    emb: DataFrame,
    n_centroids: int = N_CENTROIDS,
    n_iter: int = KMEANS_ITERS,
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Fixed-iteration Lloyd's over the embedding table; fully
    deterministic, so a DuckDB oracle can unroll the same K iterations.

    - init: the embeddings of the ``n_centroids`` lowest vec_ids
      (deterministic, SQL-expressible seeding).
    - assign: max-cosine centroid per vector (round(ccos,6), ties → lowest
      centroid_id) against the BROADCAST codebook — zero shuffle.
    - recentre: per-dimension mean in exact integer micro-units
      (CAST(round(v*1e6) AS BIGINT) summed as BIGINT, then ONE double
      division) — partition order cannot change a centroid bit, the same
      exact-arithmetic discipline as the cents/HLL aggregates. The
      explode is dim× rows but map-side combinable: one (centroid, dim)
      shuffle of ~n_centroids*dim result rows.
    - empty clusters keep their previous centroid (mirrored in SQL via
      LEFT JOIN + coalesce)."""
    spark = emb.sparkSession
    init = (
        emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "embedding")
        .collect()
    )
    codebook = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in init
    )
    for _ in range(n_iter):
        assign = ivf_assignments(emb, n_centroids, dim, codebook=codebook)
        q = F.round(F.col("v") * F.lit(1000000.0), 0).cast("bigint")
        comp = (
            assign.join(emb, "vec_id")
            .select(
                "centroid_id",
                F.posexplode(
                    F.transform("embedding", lambda x: x.cast("double"))
                ).alias("i", "v"),
            )
            .groupBy("centroid_id", "i")
            .agg(
                (
                    F.sum(q).cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)
                ).alias("comp")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in comp:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["i"])] = float(
                r["comp"]
            )
        codebook = [
            (
                cid,
                [by_cid[cid][i] for i in range(dim)] if cid in by_cid else vec,
            )
            for cid, vec in codebook
        ]
    return codebook


def ann_ivf_trained_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    n_iter: int = KMEANS_ITERS,
    dim: int = 64,
) -> DataFrame:
    """ann_ivf_topk over a codebook TRAINED on this corpus (Lloyd's,
    ``n_iter`` rounds) with the index materialized — the deployment shape:
    train offline, write assignments partitioned by centroid_id, serve
    probes against the materialized table (eager localCheckpoint here,
    GC-reclaimable, same rationale as ann_ivf_topk_indexed)."""
    codebook = kmeans_codebook(emb, n_centroids, n_iter, dim)
    assignments = ivf_assignments(
        emb, n_centroids, dim, codebook=codebook
    ).localCheckpoint()
    return ann_ivf_topk(
        emb, query_vec_id, k, n_centroids, n_probe, dim,
        assignments=assignments, codebook=codebook,
    )


def _kmeans_cents_cte(n_centroids: int, n_iter: int, dim: int) -> tuple[str, str]:
    """(cte_chain, final_name): the unrolled Lloyd iterations as DuckDB
    CTEs — cent0 (seed) then assign{j}/cent{j+1} pairs, numerically
    bit-matched to kmeans_codebook (same round(ccos,6) argmax, same
    integer-micro-unit means)."""
    ccos = (
        "round(list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cvec[i] "
        "FOR i IN range(1, len(e.embedding) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding])) "
        "* sqrt(list_sum([x * x FOR x IN c.cvec]))), 6)"
    )
    parts = [
        f"""cent0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {n_centroids}
)"""
    ]
    for j in range(n_iter):
        parts.append(
            f"""assign{j} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {ccos} DESC, c.centroid_id) AS rn
    FROM embeddings e CROSS JOIN cent{j} c
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""cent{j + 1} AS (
  SELECT p.centroid_id, coalesce(n.cvec, p.cvec) AS cvec
  FROM cent{j} p LEFT JOIN (
    SELECT centroid_id, list(comp ORDER BY i) AS cvec FROM (
      SELECT a.centroid_id, t.i,
             CAST(CAST(sum(CAST(round(t.v * 1000000.0) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) / count(*) / 1000000.0 AS comp
      FROM assign{j} a JOIN (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
      ) t USING (vec_id)
      GROUP BY a.centroid_id, t.i
    ) GROUP BY centroid_id
  ) n USING (centroid_id)
)"""
        )
    return ",\n".join(parts), f"cent{n_iter}"


def ann_ivf_trained_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    n_iter: int = KMEANS_ITERS,
    dim: int = 64,
) -> str:
    chain, final = _kmeans_cents_cte(n_centroids, n_iter, dim)
    ccos = (
        "round(list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cvec[i] "
        "FOR i IN range(1, len(e.embedding) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding])) "
        "* sqrt(list_sum([x * x FOR x IN c.cvec]))), 6)"
    )
    return f"""
WITH {chain},
scored AS (
  SELECT e.vec_id, c.centroid_id, {ccos} AS ccos
  FROM embeddings e CROSS JOIN {final} c
),
assignments AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
probe AS (
  SELECT centroid_id FROM scored WHERE vec_id = {query_vec_id}
  ORDER BY ccos DESC, centroid_id LIMIT {n_probe}
),
cand AS (
  SELECT a.vec_id FROM assignments a JOIN probe p USING (centroid_id)
  UNION SELECT {query_vec_id}
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
final AS (
  SELECT e.vec_id,
         round(
           list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                     FOR i IN range(1, len(e.embedding) + 1)])
           / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding]))
              * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN q.qv]))),
           4) AS cos
  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, qv q
  WHERE e.vec_id != {query_vec_id}
)
SELECT vec_id, cos FROM final ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


# --- bucketed embedding pairs: the ONE pair lane (see module docstring) -------

# Safety margin of the scorer's pre-filter, in raw-cos units. The final
# key is round(cos, 4) (quantum 1e-4) and Spark's round is monotone, so:
# - top-k: a pair more than 1e-4 below its row's k-th best raw cos rounds
#   strictly below k other candidates and can never be selected;
# - threshold t: round(cos, 4) >= t implies cos >= t - 5e-5.
# 1e-3 is a 5x-safe superset in both modes. The FINAL round + selection
# stays in Spark, so outputs are bit-identical to the all-pairs plan.
ANN_COS_MARGIN = 1e-3
# right-side slab per rank-1-update pass — bounds the numpy pair matrix
# at len(left_group) x ANN_SCORE_CHUNK doubles per task
ANN_SCORE_CHUNK = 8192


def _stacked(ids, vecs, dim: int):
    """float32 embeddings → (n, dim) float64 matrix, enforcing the
    exact-dim contract: an embedding that is NULL or not ``dim`` long
    raises ValueError naming its vec_id."""
    import numpy as np

    for vid, v in zip(ids, vecs):
        if v is None or len(v) != dim:
            n = "NULL" if v is None else len(v)
            raise ValueError(
                f"vec_id {vid}: embedding has {n} elements, expected dim={dim}"
            )
    return np.stack([np.asarray(v, dtype=np.float32) for v in vecs]).astype(
        np.float64
    )


def _pair_score_fn(
    dim: int,
    k: int | None = None,
    threshold: float | None = None,
    id_pred=None,
):
    """Per-(centroid_id, salt) cogroup scorer: the raw cosine of every
    left (vec_id, qe) × right (cand_id, ce) pair of the group, emitted as
    (vec_id, cand_id, cos) when ``id_pred(vec_id, cand_id)`` holds (None:
    always) and the pair passes the selection mode — top-k (``k``): cos ≥
    the left row's k-th best − ANN_COS_MARGIN; threshold: cos ≥
    ``threshold`` − ANN_COS_MARGIN. Ids keep their input dtype.

    Bit parity: float32 → float64, then the SAME left-to-right order as
    the _dot/_norm folds — one rank-1 update per dimension (np.outer is a
    pure ufunc, no FMA/BLAS reassociation) — so every raw cos is the exact
    double the JVM expression computes.

    NaN per cell: a NaN cos (zero-norm or NaN embedding) is always kept —
    Spark orders NaN above every value and NaN ≥ t holds — but never
    widens its row's filter (the k-th best ignores NaN); a zero-norm left
    row is all NaN, so it is kept whole: O(|bucket|) pairs, not O(|bucket|²)."""

    def score(left, right):
        import numpy as np
        import pandas as pd

        lids = left["vec_id"].to_numpy()
        rids = right["cand_id"].to_numpy()
        if len(lids) == 0 or len(rids) == 0:
            return pd.DataFrame(
                {"vec_id": lids[:0], "cand_id": rids[:0], "cos": np.zeros(0)}
            )
        q = _stacked(lids, left["qe"], dim)
        c = _stacked(rids, right["ce"], dim)
        qn, cn = np.zeros(len(q)), np.zeros(len(c))
        for i in range(dim):
            qn += q[:, i] * q[:, i]
            cn += c[:, i] * c[:, i]
        qn, cn = np.sqrt(qn), np.sqrt(cn)
        outs = []
        for lo in range(0, len(c), ANN_SCORE_CHUNK):
            hi = min(lo + ANN_SCORE_CHUNK, len(c))
            acc = np.zeros((len(q), hi - lo))
            for i in range(dim):
                acc += np.outer(q[:, i], c[lo:hi, i])
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / np.outer(qn, cn[lo:hi])
            nan = np.isnan(cos)
            ok = True
            if id_pred is not None:
                ok = id_pred(lids[:, None], rids[None, lo:hi])
            if k is None:
                floor = threshold - ANN_COS_MARGIN
            elif hi - lo >= k:
                ranked = np.where(ok & ~nan, cos, -np.inf)
                kth = -np.partition(-ranked, k - 1, axis=1)[:, k - 1 : k]
                floor = kth - ANN_COS_MARGIN
            else:
                floor = -np.inf  # fewer than k candidates: keep them all
            li, ri = np.nonzero(ok & ((cos >= floor) | nan))
            outs.append(
                pd.DataFrame(
                    {"vec_id": lids[li], "cand_id": rids[lo + ri], "cos": cos[li, ri]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return score


def _bucket_pairs(
    left: DataFrame,
    right: DataFrame,
    n_centroids: int,
    dim: int,
    *,
    k: int | None = None,
    threshold: float | None = None,
    id_pred=None,
    replicate: str = "right",
) -> DataFrame:
    """(vec_id, cand_id, cos) — raw cosines of the same-centroid pairs of
    ``left`` (vec_id, centroid_id, qe) × ``right`` (cand_id, centroid_id,
    ce) that _pair_score_fn selects.

    Salting (r8, guide §2.5): centroid_id alone has only n_centroids
    values, so the compute-heavy pair stage would run on ≤ n_centroids
    tasks. One side is keyed by pmod(xxhash64(id), S), the ``replicate``
    side (the smaller one) is copied S ways, so every same-bucket pair
    meets exactly once; S scales with the shuffle partitions, and
    REPARTITION_BY_NUM on both inputs pins the layout against AQE's
    byte-based coalescing (CLAUDE.md r2 rule). Per-task memory is
    O(|bucket|·dim) input + the chunked pair slab."""
    n_part = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n_salt = max(1, min(64, (8 * n_part) // n_centroids))

    def pinned(df: DataFrame, id_col: str, replicated: bool) -> DataFrame:
        if replicated:
            salt = F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        else:
            salt = F.pmod(F.xxhash64(id_col), F.lit(n_salt)).cast("int")
        return (
            df.withColumn("_salt", salt)
            .repartition(n_part, "centroid_id", "_salt")
            .groupBy("centroid_id", "_salt")
        )

    schema = (
        f"vec_id {left.schema['vec_id'].dataType.simpleString()}, "
        f"cand_id {right.schema['cand_id'].dataType.simpleString()}, cos double"
    )
    cand = (
        pinned(left, "vec_id", replicate == "left")
        .cogroup(pinned(right, "cand_id", replicate == "right"))
        .applyInPandas(_pair_score_fn(dim, k, threshold, id_pred), schema)
    )
    # pandas → Arrow turns NaN into NULL; restore the JVM cosine's NaN
    return cand.withColumn("cos", F.coalesce(F.col("cos"), F.lit(float("nan"))))


# --- batched ANN: top-k neighbor for EVERY vector (SemDeDup shape) -----------


def ann_ivf_topk_all(
    emb: DataFrame,
    k: int = 1,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    dim: int = 64,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, nn_vec_id, cos) — the ``k`` nearest neighbors of EVERY
    vector, restricted to each vector's ``n_probe`` nearest centroid
    buckets: the all-pairs semantic-dedup shape (SemDeDup, Abbas et al.
    2023) without the all-pairs cost. Ids keep the input's vec_id type;
    embeddings must have exactly ``dim`` elements.

    Plan shape (100 TB): the corpus scores against the BROADCAST codebook
    once (zero shuffle), per-vector probe sets come from a window over
    exactly n_centroids rows per vec_id (uniform partitions — no skew by
    construction), candidate pairs are scored by the salted
    (probe side × materialized index side) cogroup of _bucket_pairs in
    top-k mode, and the final per-vector top-k is a min(struct) agg for
    k=1 (map-side combinable, hot-bucket safe) or a window otherwise.
    Cost is sum over buckets of |bucket|·|probes into bucket| — bucketed,
    never all-pairs. x10 probe (k=1): 3.6 s vs 14 s for the best JVM pair
    plan, vs 125 s for round 7's."""
    scored = _scored_against_centroids(emb, n_centroids, dim)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id")
    )
    probed = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= n_probe
    )
    probes = probed.select("vec_id", "centroid_id")
    if assignments is None:
        # rn = 1 of the SAME probe window ≡ ivf_assignments' min-struct
        # argmax (identical ccos ordering and centroid tie-break — the
        # DuckDB oracle defines assignments exactly this way), so both
        # consumers share one corpus×centroid scoring + window instead of
        # scoring the corpus twice (r8, guide §2.4 — measured: the two
        # subtrees did not reuse an exchange)
        # the re-aliasing is load-bearing: both pair sides descend from
        # `probed`, and without fresh expression ids the analyzer rejects
        # the plan as an ambiguous self-join
        assignments = probed.filter(F.col("rn") == 1).select(
            F.col("vec_id").alias("vec_id"),
            F.col("centroid_id").alias("centroid_id"),
        )
    # the index side (one row per vector vs n_probe) is the smaller one
    cand = _bucket_pairs(
        probes.join(emb, "vec_id").select(
            "vec_id", "centroid_id", F.col("embedding").alias("qe")
        ),
        assignments.join(emb, "vec_id").select(
            F.col("vec_id").alias("cand_id"),
            "centroid_id",
            F.col("embedding").alias("ce"),
        ),
        n_centroids,
        dim,
        k=k,
        id_pred=operator.ne,
    ).select(
        "vec_id",
        F.col("cand_id").alias("nn_vec_id"),
        F.round(F.col("cos"), 4).alias("cos"),
    )
    if k == 1:
        best = cand.groupBy("vec_id").agg(
            F.min(
                F.struct(
                    (-F.col("cos")).alias("nc"), F.col("nn_vec_id").alias("cid")
                )
            ).alias("b")
        )
        return best.select(
            "vec_id",
            F.col("b.cid").alias("nn_vec_id"),
            (-F.col("b.nc")).alias("cos"),
        )
    wk = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("nn_vec_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ann_ivf_topk_all_sql(
    k: int = 1,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    dim: int = 64,
) -> str:
    ccos = (
        "round(list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cvec[i] "
        "FOR i IN range(1, len(e.embedding) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding])) "
        "* sqrt(list_sum([x * x FOR x IN c.cvec]))), 6)"
    )
    pcos = (
        "round(list_sum([CAST(l.qe[i] AS DOUBLE) * CAST(r.ce[i] AS DOUBLE) "
        "FOR i IN range(1, len(l.qe) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN l.qe])) "
        "* sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN r.ce]))), 4)"
    )
    return f"""
WITH scored AS (
  SELECT e.vec_id, c.centroid_id, {ccos} AS ccos
  FROM embeddings e CROSS JOIN {_centroids_values_sql(n_centroids, dim)}
),
probes AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn <= {n_probe}
),
assignments AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT l.vec_id, r.cand_id, {pcos} AS cos
  FROM (SELECT p.vec_id, p.centroid_id, e.embedding AS qe
        FROM probes p JOIN embeddings e USING (vec_id)) l
  JOIN (SELECT a.vec_id AS cand_id, a.centroid_id, e.embedding AS ce
        FROM assignments a JOIN embeddings e USING (vec_id)) r
    ON l.centroid_id = r.centroid_id AND l.vec_id != r.cand_id
)
SELECT vec_id, cand_id AS nn_vec_id, cos FROM (
  SELECT vec_id, cand_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rn
  FROM pairs
) WHERE rn <= {k}
"""


# --- SemDeDup: semantic dedup over embedding clusters ------------------------

SEMDEDUP_THRESHOLD = 0.35


def semantic_pairs(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """(a_vec_id, b_vec_id, cos) — within-bucket pairs with rounded cosine
    ≥ threshold: the SemDeDup edge list (Abbas et al. 2023 — duplicates
    are detected INSIDE k-means clusters, never across the full corpus).
    The materialized index meets itself in the salted _bucket_pairs
    cogroup (threshold mode, a_vec_id < b_vec_id); cost is sum of
    |bucket|² — the same bounded-bucket contract as dedup_minhash_pairs.
    Ids keep the input's vec_id type; embeddings must have exactly ``dim``
    elements."""
    if assignments is None:
        assignments = ivf_assignments(emb, n_centroids, dim)
    side = assignments.join(emb, "vec_id")
    return (
        _bucket_pairs(
            side.select("vec_id", "centroid_id", F.col("embedding").alias("qe")),
            # fresh expression ids: both sides are one Dataset, and the
            # analyzer rejects a bare centroid_id as an ambiguous self-join
            side.select(
                F.col("vec_id").alias("cand_id"),
                F.col("centroid_id").alias("centroid_id"),
                F.col("embedding").alias("ce"),
            ),
            n_centroids,
            dim,
            threshold=threshold,
            id_pred=operator.lt,
        )
        .select(
            F.col("vec_id").alias("a_vec_id"),
            F.col("cand_id").alias("b_vec_id"),
            F.round(F.col("cos"), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def corpus_semantic_index(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, dim: int = 64
) -> DataFrame:
    """(vec_id, centroid_id, embedding) — the materializable corpus side
    of semantic_filter_batch (at 100 TB: parquet partitioned by
    centroid_id, so each probe prunes to its buckets)."""
    return ivf_assignments(emb, n_centroids, dim).join(emb, "vec_id").select(
        "vec_id", "centroid_id", "embedding"
    )


def semantic_filter_batch(
    batch: DataFrame,
    corpus_index: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
) -> DataFrame:
    """New (vec_id, embedding) rows → the subset with no corpus-side
    semantic duplicate (rounded cosine ≥ threshold within the vector's
    own centroid bucket of ``corpus_index``), scored by the salted
    _bucket_pairs cogroup (threshold mode) with the new rows as the
    replicated side.  A duplicate of a corpus vector always lands in its
    bucket (the assignment is a pure function of the embedding); rows of
    ``batch`` are not paired against each other — that is dedup_semantic
    over the compacted corpus.  Embeddings must have exactly ``dim``
    elements."""
    probe = ivf_assignments(batch, n_centroids, dim).join(batch, "vec_id")
    dup_ids = (
        _bucket_pairs(
            probe.select("vec_id", "centroid_id", F.col("embedding").alias("qe")),
            corpus_index.select(
                F.col("vec_id").alias("cand_id"),
                "centroid_id",
                F.col("embedding").alias("ce"),
            ),
            n_centroids,
            dim,
            threshold=threshold,
            replicate="left",
        )
        .filter(F.round(F.col("cos"), 4) >= threshold)
        .select("vec_id")
        .distinct()
    )
    return batch.join(dup_ids, "vec_id", "left_anti")


def dedup_semantic(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, rep_vec_id, is_dup) — the full SemDeDup operator: pairs
    above the cosine threshold inside each centroid bucket form a graph,
    connected components collapse transitive duplicates, and each vector
    reports its component representative (lowest vec_id — deterministic;
    identical vectors always share a bucket since the assignment argmax
    is a pure function of the embedding).

    Composition of proven pieces: the materialized IVF index (one
    localCheckpoint'ed build), semantic_pairs (one bucket-keyed
    self-join), and dedup.components_from_edges (O(log n) large/small-star
    rounds with periodic checkpointing, so a long chain of near-duplicates
    converges instead of raising). The DuckDB oracle closes the same graph with a recursive
    CTE — an independent derivation."""
    from .dedup import components_from_edges

    assignments = ivf_assignments(emb, n_centroids, dim).localCheckpoint()
    edges = semantic_pairs(emb, threshold, n_centroids, dim, assignments).select(
        F.col("a_vec_id").alias("src"), F.col("b_vec_id").alias("dst")
    )
    comps = components_from_edges(
        emb.select(F.col("vec_id").alias("doc_id")), edges
    )
    return comps.select(
        F.col("doc_id").alias("vec_id"),
        F.col("component_id").alias("rep_vec_id"),
        (F.col("doc_id") != F.col("component_id")).alias("is_dup"),
    )


def dedup_semantic_sql(
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    dim: int = 64,
) -> str:
    ccos = (
        "round(list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cvec[i] "
        "FOR i IN range(1, len(e.embedding) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN e.embedding])) "
        "* sqrt(list_sum([x * x FOR x IN c.cvec]))), 6)"
    )
    pcos = (
        "round(list_sum([CAST(l.qe[i] AS DOUBLE) * CAST(r.ce[i] AS DOUBLE) "
        "FOR i IN range(1, len(l.qe) + 1)]) "
        "/ (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN l.qe])) "
        "* sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN r.ce]))), 4)"
    )
    return f"""
WITH RECURSIVE scored AS (
  SELECT e.vec_id, c.centroid_id, {ccos} AS ccos
  FROM embeddings e CROSS JOIN {_centroids_values_sql(n_centroids, dim)}
),
assignments AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT l.vec_id AS a_vec_id, r.cand_id AS b_vec_id, {pcos} AS cos
  FROM (SELECT a.vec_id, a.centroid_id, e.embedding AS qe
        FROM assignments a JOIN embeddings e USING (vec_id)) l
  JOIN (SELECT a.vec_id AS cand_id, a.centroid_id, e.embedding AS ce
        FROM assignments a JOIN embeddings e USING (vec_id)) r
    ON l.centroid_id = r.centroid_id AND l.vec_id < r.cand_id
),
edges AS (SELECT a_vec_id, b_vec_id FROM pairs WHERE cos >= {threshold}),
sym AS (
  SELECT a_vec_id AS src, b_vec_id AS dst FROM edges
  UNION SELECT b_vec_id, a_vec_id FROM edges
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT e.vec_id,
       least(e.vec_id, coalesce(min(r.dst), e.vec_id)) AS rep_vec_id,
       least(e.vec_id, coalesce(min(r.dst), e.vec_id)) != e.vec_id AS is_dup
FROM embeddings e LEFT JOIN reach r ON e.vec_id = r.src
GROUP BY e.vec_id
"""
