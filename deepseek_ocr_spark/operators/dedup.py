"""Deduplication operator family — training-data-pipeline first-class ops.

Not present in the reference (it processes each page independently), but
required of a 100 TB web-corpus engine. All four variants are expressed as
DataFrame plans with shared deterministic hashing (md5 — identical hex in
Spark and DuckDB, so every operator has an exact relational oracle):

- exact:        groupBy(md5(text)) — one shuffle, survivor = min(doc_id)
- minhash LSH:  shingle → K minhashes (min over md5(shingle||':'||k)) →
                band keys → self-join on band — the classic
                shingle→minhash→band→bucket-join pipeline; candidate pairs
                only, no O(n²)
- simhash:      16-bit majority-vote signature from per-token md5 nibbles
- n-gram Jaccard: banded self-join (adjacent doc_ids) with
                |A∩B| / |A∪B| over distinct shingles

Scale notes: the explode(shingles) fan-out is linear in corpus tokens; the
band self-join shuffles on the band key whose cardinality ~ n_docs (no skew
beyond true near-dup clusters). Survivor selection is a plain min-agg, not a
window, so partial aggregation applies map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepseek_ocr_spark.operators.digests import token_hashes, window_digests

SHINGLE_WIDTH = 3


def spread_input(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before a map-heavy projection:
    a well-laid-out production table has thousands of splits and this is a
    no-op; a single-file parquet input would otherwise run the whole
    zero-shuffle sketch pipeline in ONE task (observed)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, _sh: array<string>) — each doc's word 3-gram shingles as
    one array row: zero explode, zero shuffle, memory bounded by the
    document the row already holds.  The one shingle builder behind
    minhash_signatures, _shingle_sets and textops.doc_fingerprint.

    Docs with fewer than 3 tokens (and NULL text) are dropped, matching
    the SQL oracle's empty range.  The gate is a token-count predicate,
    NOT size(_sh) > 0: Catalyst pushes filters below the spread exchange,
    and a filter on the shingle array would rebuild the whole transform
    serially in the scan task (observed).  The token split is a projected
    column the transform slices: a ``split`` inside the lambda re-splits
    the whole text once per shingle, O(tokens²) per doc."""
    has_shingles = F.size(F.split(F.col("text"), " ")) >= SHINGLE_WIDTH
    toks = spread_input(docs.filter(has_shingles)).select(
        "doc_id", F.split(F.col("text"), " ").alias("_tk")
    )
    return toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.size("_tk") - SHINGLE_WIDTH),
            lambda i: F.concat_ws(" ", F.slice("_tk", i + 1, SHINGLE_WIDTH)),
        ).alias("_sh"),
    )


def shingles_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB-side shingle expansion (list comprehension + unnest)."""
    return f"""
SELECT {id_col}, unnest([ l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                          FOR i IN range(1, greatest(len(l) - {SHINGLE_WIDTH - 2}, 1)) ]) AS shingle
FROM (SELECT {id_col}, string_split({text_col}, ' ') AS l FROM {table})
"""


def dedup_exact(docs: DataFrame) -> DataFrame:
    """(text_hash, survivor_doc_id, n_dupes) — exact dedup via hash groupBy."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS survivor_doc_id,
       count(*) AS n_dupes
FROM documents GROUP BY md5(text)
"""


# Demo-scale defaults; production corpora want ~128 hashes / 16 bands — both
# are real parameters now (Spark and SQL generators stay band-for-band in
# sync for any (n_hashes, n_bands) with n_hashes % n_bands == 0), and the
# registry oracle-checks a second, non-toy setting (16×4).
N_MINHASHES = 4
N_BANDS = 2


def _check_bands(n_hashes: int, n_bands: int) -> int:
    if n_hashes % n_bands != 0:
        raise ValueError(f"n_hashes={n_hashes} not divisible by n_bands={n_bands}")
    return n_hashes // n_bands


def minhash_signatures(
    docs: DataFrame, n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, h0..h{K-1}, band0..band{B-1}) — K minhashes + banded keys.

    Each minhash is the min over the doc's own shingles (see
    doc_shingles).  Docs with <SHINGLE_WIDTH tokens have no shingles and are excluded,
    matching the SQL oracle's explode semantics."""
    r = _check_bands(n_hashes, n_bands)
    # r8: explode → K min-aggs instead of array_min over K interpreted
    # transform lambdas — the K·shingles md5 calls then run under
    # whole-stage codegen (guide §4.1) and partial map-side aggregation
    # keeps the shuffle at ONE row per doc (a doc's shingles are
    # partition-local: the explode follows the row-level spread).
    # Measured x10 A/B min-of-3: 2.14 s vs 2.71 s for the 16-hash
    # signature stage, outputs bit-identical.
    # explode_outer, not explode: every row here has shingles, and an inner
    # explode of the _sh column makes Catalyst infer size(_sh) > 0 and push
    # it below the spread exchange — the whole transform rebuilt serially
    # in the scan task (observed in the optimized plan)
    sh = doc_shingles(docs).select("doc_id", F.explode_outer("_sh").alias("_s"))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("_s"), F.lit(f":{k}")))).alias(f"h{k}")
            for k in range(n_hashes)
        ]
    )
    band_cols = [
        F.md5(F.concat(*[f"h{b * r + i}" for i in range(r)])).alias(f"band{b}")
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id", *[F.col(f"h{k}") for k in range(n_hashes)], *band_cols
    )


def minhash_sql(
    table: str = "documents", n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> str:
    r = _check_bands(n_hashes, n_bands)
    hash_cols = ", ".join(
        f"min(md5(shingle || ':{k}')) AS h{k}" for k in range(n_hashes)
    )
    h_list = ", ".join(f"h{k}" for k in range(n_hashes))
    band_cols = ", ".join(
        "md5({}) AS band{}".format(
            " || ".join(f"h{b * r + i}" for i in range(r)), b
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({shingles_sql(table)}),
sig AS (SELECT doc_id, {hash_cols} FROM sh GROUP BY doc_id)
SELECT doc_id, {h_list}, {band_cols}
FROM sig
"""


DEFAULT_MAX_BUCKET = 1000


def dedup_minhash_pairs(
    docs: DataFrame,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs (a_doc_id < b_doc_id) sharing any LSH band.

    ``max_bucket`` guards the classic LSH hot-bucket blowup: one viral
    document duplicated a million times puts 10^6 ids in one band bucket →
    10^12 candidate pairs from a single key. Buckets larger than the cap
    are excluded from pairing ENTIRELY (deterministic — their members are
    trivially findable by exact dedup anyway, which is why the composition
    runs dedup_exact first). The default is CAPPED at DEFAULT_MAX_BUCKET —
    the safe-at-scale behavior; pass ``max_bucket=None`` to opt in to the
    exact/uncapped small-corpus path (a viral bucket then builds an
    O(bucket²)-struct array inside ONE row: single-task OOM).

    Plan shape (round 3): pairs are enumerated WITHIN each band bucket
    (groupBy band → sorted id set → ordered combinations) instead of a
    band self-join — the signature pipeline runs ONCE and each (doc, band)
    row crosses the network once, where the self-join recomputed the
    signatures for both inputs (observed: 2 scans, no exchange reuse).
    Per-bucket pair memory is O(bucket²) inside one row, which is exactly
    what ``max_bucket`` bounds — at corpus scale ALWAYS set the cap (the
    uncapped path exists for small-corpus exactness; a viral cluster is
    catastrophic under either formulation, 10^12 shuffle rows vs one fat
    row, and the cap is the answer to both). The DuckDB oracle keeps the
    self-join formulation on purpose: two independent derivations of the
    same pair set cross-check each other."""
    n_bands_cols = [f"band{b}" for b in range(n_bands)]
    sig = minhash_signatures(docs, n_hashes, n_bands)
    bands = sig.select(
        "doc_id", F.explode(F.array(*n_bands_cols)).alias("band")
    )
    buckets = bands.groupBy("band").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a_doc_id"), F.col("p.b").alias("b_doc_id"))
        .distinct()
    )


def dedup_minhash_pairs_sql(
    table: str = "documents",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    band_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, band{b} AS band FROM sig" for b in range(n_bands)
    )
    cap = ""
    if max_bucket is not None:
        cap = f""",
bands AS (
  SELECT doc_id, band FROM (
    SELECT doc_id, band, count(*) OVER (PARTITION BY band) AS _bn FROM bands0
  ) WHERE _bn <= {max_bucket}
)"""
    bands_name = "bands0" if max_bucket is not None else "bands"
    return f"""
WITH sig AS ({minhash_sql(table, n_hashes, n_bands)}),
{bands_name} AS (
  {band_union}
){cap}
SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""


SIMHASH_BITS = 16
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 16-bit majority-vote signature over token md5s.

    ZERO-shuffle: the token md5s of one document are a map-side array
    (one md5 walk), and each bit's majority vote is a fold over that array —
    no explode, no groupBy (was: token explode + 16 sum-aggs = a shuffle of
    every token). Multiset semantics identical to the exploded form.
    NULL-text docs are dropped, matching the oracle's explode semantics
    (a fold over a null array would otherwise emit simhash=0 rows the
    exploded form never produced)."""
    sp = spread_input(docs.filter(F.col("text").isNotNull()))
    md5s = F.transform(F.split("text", " "), lambda t: F.md5(t))
    votes = sp.select("doc_id", md5s.alias("_h"))
    vote_cols = [
        F.aggregate(
            F.col("_h"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.substring(h, b + 1, 1).isin(*_ODD_HEX), 1).otherwise(-1),
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = votes.select("doc_id", *vote_cols)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_sql(table: str = "documents") -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN substr(h, {b + 1}, 1) IN ('1','3','5','7','9','b','d','f') "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sim_expr = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM {table}
),
votes AS (SELECT doc_id, {bit_sums} FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM votes
"""


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) — each doc's DISTINCT shingle set as one
    array row (zero shuffle, see doc_shingles)."""
    return doc_shingles(docs).select("doc_id", F.array_distinct("_sh").alias("sh"))


def ngram_jaccard_adjacent(docs: DataFrame) -> DataFrame:
    """(a_doc_id, b_doc_id, jaccard) for adjacent doc_id pairs — banded
    pairwise n-gram Jaccard (distinct word 3-grams).

    Set-array formulation: the join is on doc_id (+1) and the intersection
    is ``array_intersect`` per joined row — NO shuffle on the shingle key
    (the old plan exploded shingles and shuffled every (doc, shingle) pair
    to equi-join on shingle). Memory per row = the two docs' shingle sets,
    the same order as the texts themselves. Pairs sharing zero shingles are
    dropped, matching the old inner-join semantics."""
    # r8 single-evaluation pairing (guide §2.4): the a/b self-join keyed
    # its two sides on different expressions (doc_id vs doc_id+1), so the
    # whole shingle-set derivation ran TWICE (no exchange reuse). Each doc
    # now contributes its set to buckets doc_id (as the 'a' side) and
    # doc_id-1 (as the 'b' side) in ONE pass; a bucket holding both sides
    # is exactly an adjacent pair. Same pair set, same jaccard; one
    # derivation, one shuffle. Measured x10 A/B min-of-3: 1.17 s vs
    # 2.24 s, outputs identical. first(ignorenulls) is deterministic here
    # — at most one non-null per (key, side).
    sets = _shingle_sets(docs)
    tagged = sets.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("key"),
                    F.lit(0).alias("side"),
                    F.col("sh"),
                ),
                F.struct(
                    (F.col("doc_id") - 1).alias("key"),
                    F.lit(1).alias("side"),
                    F.col("sh"),
                ),
            )
        ).alias("t")
    ).select("t.key", "t.side", "t.sh")
    paired = (
        tagged.groupBy("key")
        .agg(
            F.first(
                F.when(F.col("side") == 0, F.col("sh")), ignorenulls=True
            ).alias("ash"),
            F.first(
                F.when(F.col("side") == 1, F.col("sh")), ignorenulls=True
            ).alias("bsh"),
        )
        .filter(F.col("ash").isNotNull() & F.col("bsh").isNotNull())
    )
    inter = F.size(F.array_intersect(F.col("ash"), F.col("bsh")))
    union = F.size("ash") + F.size("bsh") - inter
    return (
        paired.select(
            F.col("key").alias("a_doc_id"),
            (F.col("key") + 1).alias("b_doc_id"),
            inter.alias("_i"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("_i") >= 1)
        .drop("_i")
    )


def dedup_minhash_verified(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """The 100 TB near-dup composition: MinHash-LSH proposes candidate pairs
    (no O(n²)), exact n-gram Jaccard verifies them. Shingle sets are
    semi-joined to the candidate pairs, so the expensive exact comparison
    touches only LSH-bucket collisions.

    Returns (a_doc_id, b_doc_id, jaccard, is_dup).
    """
    cands = dedup_minhash_pairs(docs)
    sets = _shingle_sets(docs)
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size("a.sh") + F.size("b.sh") - inter
    jac = (
        cands.join(a, F.col("a_doc_id") == F.col("a.doc_id"))
        .join(b, F.col("b_doc_id") == F.col("b.doc_id"))
        .select(
            "a_doc_id",
            "b_doc_id",
            inter.alias("_i"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        # LSH candidates sharing zero shingles drop, as in the old
        # inner-join-on-shingle plan (band collisions can be hash flukes)
        .filter(F.col("_i") >= 1)
        .drop("_i")
    )
    return jac.withColumn("is_dup", F.col("jaccard") >= threshold)


def dedup_minhash_verified_sql(table: str = "documents", threshold: float = 0.5) -> str:
    return f"""
WITH cands AS ({dedup_minhash_pairs_sql(table)}),
sh AS (SELECT DISTINCT * FROM ({shingles_sql(table)})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a_doc_id, c.b_doc_id, count(*) AS inter
  FROM cands c
  JOIN sh a ON c.a_doc_id = a.doc_id
  JOIN sh b ON c.b_doc_id = b.doc_id AND a.shingle = b.shingle
  GROUP BY c.a_doc_id, c.b_doc_id
)
SELECT i.a_doc_id, i.b_doc_id,
       round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4) AS jaccard,
       (round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4) >= {threshold}) AS is_dup
FROM inter i
JOIN sizes sa ON i.a_doc_id = sa.doc_id
JOIN sizes sb ON i.b_doc_id = sb.doc_id
"""


def ngram_jaccard_sql(table: str = "documents") -> str:
    return f"""
WITH sh AS (SELECT DISTINCT * FROM ({shingles_sql(table)})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND b.doc_id = a.doc_id + 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.a_doc_id, i.b_doc_id,
       round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.a_doc_id = sa.doc_id
JOIN sizes sb ON i.b_doc_id = sb.doc_id
"""


def band_table(
    docs: DataFrame, n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band) — the exploded MinHash-LSH band table. At 100 TB
    this is the MATERIALIZED seen-set the steady-state crawl maintains
    (written bucketed by band); dedup_incremental and the streaming
    near-dup probe both probe it through band_collisions."""
    sig = minhash_signatures(docs, n_hashes, n_bands)
    return sig.select(
        "doc_id",
        F.explode(F.array(*[f"band{b}" for b in range(n_bands)])).alias("band"),
    )


def dedup_incremental(
    docs: DataFrame,
    mod: int = 10,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """(doc_id, already_seen) — the DAILY-INCREMENT shape: a new crawl
    batch (here simulated as doc_id % mod == 0) checked against the
    existing corpus via MinHash-LSH band collision, WITHOUT re-pairing the
    corpus against itself. At 100 TB this is the steady-state dedup job:
    the corpus side is a pre-materialized band table (bucketed by band),
    the increment is small, and the probe is a semi-join — no O(corpus²)
    anywhere, no all-pairs even within the increment.

    Docs too short to shingle have no bands and are never ``already_seen``
    (both engines agree: no rows → LEFT join miss)."""
    inc = docs.filter(F.col("doc_id") % mod == 0)
    base = docs.filter(F.col("doc_id") % mod != 0)

    base_bands = band_table(base, n_hashes, n_bands).select("band").distinct()
    seen = band_collisions(inc, base_bands, n_hashes, n_bands).withColumn(
        "_seen", F.lit(True)
    )
    return inc.select("doc_id").join(seen, "doc_id", "left").select(
        "doc_id", F.coalesce("_seen", F.lit(False)).alias("already_seen")
    )


def band_collisions(
    docs: DataFrame,
    corpus_bands: DataFrame,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """(doc_id) — the distinct ``docs`` sharing any MinHash-LSH band with
    the ``corpus_bands`` table (a band_table; only its ``band`` column is
    read).  A left-semi probe, so duplicate corpus rows change nothing.
    Docs too short to shingle have no bands and never collide; docs of
    ``docs`` are not paired against each other."""
    return (
        band_table(docs, n_hashes, n_bands)
        .join(corpus_bands.select("band"), "band", "left_semi")
        .select("doc_id")
        .distinct()
    )


def dedup_incremental_sql(
    table: str = "documents",
    mod: int = 10,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
) -> str:
    inc_t = f"(SELECT * FROM {table} WHERE doc_id % {mod} = 0)"
    base_t = f"(SELECT * FROM {table} WHERE doc_id % {mod} != 0)"
    band_union_inc = "\n  UNION ALL ".join(
        f"SELECT doc_id, band{b} AS band FROM isig" for b in range(n_bands)
    )
    band_union_base = "\n  UNION ALL ".join(
        f"SELECT band{b} AS band FROM bsig" for b in range(n_bands)
    )
    return f"""
WITH isig AS ({minhash_sql(inc_t, n_hashes, n_bands)}),
bsig AS ({minhash_sql(base_t, n_hashes, n_bands)}),
ib AS (
  {band_union_inc}
),
bb AS (
  {band_union_base}
),
seen AS (SELECT DISTINCT ib.doc_id FROM ib JOIN bb ON ib.band = bb.band)
SELECT d.doc_id, (seen.doc_id IS NOT NULL) AS already_seen
FROM (SELECT doc_id FROM {table} WHERE doc_id % {mod} = 0) d
LEFT JOIN seen ON d.doc_id = seen.doc_id
"""


def dedup_components(
    docs: DataFrame, n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, component_id) — connected components over the MinHash-LSH
    candidate graph; component_id is the smallest doc_id reachable (the
    canonical survivor of a near-dup cluster, the step after pairing in
    every dedup pipeline).

    Execution pattern: ITERATIVE — a driver-side loop of large/small-star
    rounds, O(log n) of them even on long chains (near-dup clusters are
    small and dense, so typically 1-2); see components_from_edges for the
    loop contract (exact stop test, O(1) lineage, loud non-convergence)."""
    edges = dedup_minhash_pairs(docs, n_hashes, n_bands)
    return components_from_edges(
        docs.select("doc_id"),
        edges.select(
            F.col("a_doc_id").alias("src"), F.col("b_doc_id").alias("dst")
        ),
    )


# Lineage grows by one scan of the previous edge set per round; truncate the
# DAG every few rounds so 10^12-scale chains can't stack-overflow the planner.
_CHECKPOINT_EVERY = 5


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star then one small-star step (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) over canonical (u > v)
    edges, returning canonical edges of the same row count. Each step is a
    window min(v) over partitionBy("u"); the large step sees both
    directions of every edge through one explode, so the round reads ``e``
    exactly once."""
    from pyspark.sql import Window as W

    by_u = W.partitionBy("u")
    both = e.select(
        F.explode(
            F.array(
                F.struct("u", "v"),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")
    # large-star: every neighbour LARGER than u links to min(Γ(u) ∪ {u})
    large = (
        both.withColumn("_m", F.least(F.min("v").over(by_u), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    # small-star: u and its smaller neighbours link to m = min of those
    # neighbours; the row holding m carries (u, m), every other row (v, m)
    m = F.min("v").over(by_u)
    return large.withColumn("_m", m).select(
        F.when(F.col("v") == F.col("_m"), F.col("u")).otherwise(F.col("v")).alias("u"),
        F.col("_m").alias("v"),
    )


def _non_star_nodes(e: DataFrame) -> int:
    """Nodes that keep the canonical edge set from being a star forest: a
    node that is both a leaf and a centre, or a leaf with two centres. Each
    edge (u, v) gives its leaf u the value v and its centre v the value v,
    so a node is fine iff min == max over its values — duplicate rows
    cannot fool it. One aggregate job."""
    vals = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("n"), F.col("v").alias("c")),
                F.struct(F.col("v").alias("n"), F.col("v").alias("c")),
            )
        ).alias("_x")
    ).select("_x.n", "_x.c")
    return (
        vals.groupBy("n")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .count()
    )


def components_from_edges(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """(doc_id, component_id) — connected components over an explicit edge
    list (src, dst), component_id the smallest id reachable; the graph
    primitive behind dedup_components, dedup_survivors and dedup_semantic,
    reusable for any near-dup/link graph.

    Each round is one large-star plus one small-star step over canonical
    (u > v) edges, self-loops dropped (_star_round); a chain of n hops
    settles in O(log n) rounds (a 1,000-hop chain in 10). The round stops
    when the edges form a star forest, every component a star on its
    minimum id; the test is one aggregate job, which also fills the
    persisted round. Intermediates are persisted and the previous round
    unpersisted so the cache-managed storage stays O(1); every
    _CHECKPOINT_EVERY rounds the edge set is localCheckpoint'ed, truncating
    lineage. Checkpointed rounds are persisted at the RDD level where
    Dataset.unpersist is a no-op — those blocks are reclaimed by Spark's
    ContextCleaner once the rotation drops the last reference (bounded by
    GC latency: at most one checkpointed edge set per _CHECKPOINT_EVERY
    rounds is awaiting cleanup). Exhausting ``max_iter`` before the star
    forest RAISES — a silently partial labeling is a wrong answer, not a
    result (one component would quietly split into several survivors).
    Nodes absent from every edge label themselves; an edge endpoint absent
    from ``nodes`` still links its neighbours. component_id has the ids'
    type (INT ids give INT labels)."""
    if max_iter < 1:
        # with zero rounds the loop never runs and the identity labeling
        # would be returned silently — same wrong-answer class the
        # non-convergence raise below exists to prevent
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    unsettled = None
    for it in range(max_iter):
        updated = _star_round(e)
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            # localCheckpoint persists on its own (MEMORY_AND_DISK) — do not
            # stack a second persist on the same plan
            updated = updated.localCheckpoint(eager=False)
        else:
            updated = updated.persist()
        unsettled = _non_star_nodes(updated)
        e.unpersist()
        e = updated
        if unsettled == 0:
            break
    if unsettled:
        e.unpersist()
        raise RuntimeError(
            f"components_from_edges did not converge in max_iter={max_iter} "
            f"rounds ({unsettled} nodes not yet in a star) — raise max_iter "
            f"(expected ~log2 of the longest chain)"
        )
    centre = e.groupBy(F.col("u").alias("doc_id")).agg(F.min("v").alias("_c"))
    return nodes.select("doc_id").join(centre, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("_c"), F.col("doc_id")).alias("component_id")
    )


def dedup_components_sql(
    table: str = "documents", n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> str:
    """Oracle: transitive closure via recursive CTE, then min reachable id
    (fine at oracle scale; the Spark side never materializes the closure)."""
    return f"""
WITH RECURSIVE edges AS ({dedup_minhash_pairs_sql(table, n_hashes, n_bands)}),
sym AS (
  SELECT a_doc_id AS src, b_doc_id AS dst FROM edges
  UNION SELECT b_doc_id, a_doc_id FROM edges
),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component_id
FROM {table} d LEFT JOIN reach r ON d.doc_id = r.src
GROUP BY d.doc_id
"""


# --- global line-level dedup (C4 / RefinedWeb style) -----------------------------


def dedup_lines_global(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_kept, n_dropped) — corpus-WIDE line deduplication:
    every non-blank line survives only in its first occurrence (lowest
    doc_id, then earliest position) and is dropped everywhere else; the
    surviving lines reassemble each document in original order. The
    C4/mC4/RefinedWeb cleaning step (Raffel et al. 2020 §2.2 dedup spans;
    line-level variant) — boilerplate lines repeated across a crawl
    (cookie banners, nav text) vanish corpus-wide in one pass.

    Plan shape: the first occurrence of a line is ``min(struct(doc_id,
    pos))`` per line — a plain AGGREGATION with map-side partial combine,
    deliberately NOT a row_number window: a viral boilerplate line (one
    cookie banner repeated 10^9 times) would make the window sort one
    entire partition, while the min-agg reduces it map-side to one row
    per task before the shuffle. One line-key shuffle + one doc_id
    shuffle for reassembly. Blank lines bypass dedup entirely (a
    paragraph break is not boilerplate). NULL text excluded (no lines to
    dedup); a document whose every line was deduplicated away disappears
    from the output entirely (C4 drops emptied docs), which the inner
    join on kept lines encodes. The DuckDB oracle keeps the row_number
    formulation on purpose — two independent derivations of the same
    survivor set."""
    lines = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line"))
    )
    blank = F.trim(F.col("line")) == ""
    kept_nonblank = (
        lines.filter(~blank)
        .groupBy("line")
        .agg(F.min(F.struct("doc_id", "pos")).alias("_first"))
        .select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.pos").alias("pos"),
            "line",
        )
    )
    kept = kept_nonblank.unionByName(lines.filter(blank))
    n_lines = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n_all"))
    out = (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(n_lines, "doc_id")
        .select(
            "doc_id",
            "text",
            F.col("n_kept").cast("bigint").alias("n_kept"),
            (F.col("_n_all") - F.col("n_kept")).cast("bigint").alias("n_dropped"),
        )
    )
    return out


def dedup_lines_global_sql(table: str = "documents") -> str:
    return f"""
WITH lines AS (
  SELECT doc_id, g.i - 1 AS pos, ls[g.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        FROM {table} WHERE text IS NOT NULL)
  CROSS JOIN unnest(generate_series(1, len(ls))) AS g(i)
),
nonblank AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lines WHERE trim(line) != ''
),
kept AS (
  SELECT doc_id, pos, line FROM nonblank WHERE rn = 1
  UNION ALL
  SELECT doc_id, pos, line FROM lines WHERE trim(line) = ''
),
counts AS (SELECT doc_id, count(*) AS n_all FROM lines GROUP BY doc_id)
SELECT k.doc_id,
       string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(any_value(c.n_all) - count(*) AS BIGINT) AS n_dropped
FROM kept k JOIN counts c ON k.doc_id = c.doc_id
GROUP BY k.doc_id
"""


# --- substring (span-level) dedup --------------------------------------------

SPAN_W = 8  # tokens per window — the Lee et al. 2022 "Deduplicating
# Training Data" substring unit, small here so the sf corpora exercise it
SPAN_MIN_COUNT = 2
SPAN_STEP = 6  # rotation step of the span digests: 6·(w−1) < 60 ⇒ w ≤ 10


def dedup_spans(
    docs: DataFrame,
    w: int = SPAN_W,
    min_count: int = SPAN_MIN_COUNT,
    dup_table: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows) — substring-level dedup
    (Lee et al. 2022, arXiv:2107.06499): every ``w``-token window whose
    digest occurs ≥ ``min_count`` times ANYWHERE in the corpus (across or
    within docs) is flagged, and per document the flagged windows are
    merged into maximal token spans [span_start, span_end) (overlapping
    or exactly-adjacent windows coalesce).  The downstream cut/keep
    policy consumes these spans; emitting spans rather than rewritten
    text keeps the op pure-relational and the contract testable.

    Plan shape (100 TB): window digests are map-side arrays over hoisted
    per-token hashes (md5 once per token).  The duplicate test is a
    map-side-combined ``groupBy(g).count()`` (a viral window — one
    boilerplate sentence in 10^9 docs — reduces to one row per task
    BEFORE the shuffle) followed by a LEFT-SEMI join of the windows
    against the ≥min_count digests; deliberately NOT a
    count-over-window, which would sort every occurrence of a viral
    digest inside one partition (the same failure mode
    dedup_lines_global's min-agg avoids), and AQE's skew-join splits an
    oversized probe partition while a window sort cannot be split.  With
    ``dup_table=None`` the digests are computed twice (agg branch + probe
    branch) — map-side recompute is the cheap side of that trade at this
    scale; pass a MATERIALIZED ``dup_table`` (dup_window_table written
    once — the artifact the streaming span probe runs this operator
    against) to make the second branch a read instead, the 100 TB
    default.  Then ONE doc_id exchange for the
    gaps-and-islands merge.  NULL/short docs never emit windows.  The
    DuckDB oracle keeps the count-over-window formulation — two
    independent derivations of the same flagged set."""
    wins = span_windows(docs, w)
    if dup_table is None:
        dup_table = dup_window_table(docs, w, min_count)
    dup = wins.join(dup_table, "g", "left_semi")
    return _flagged_windows_to_spans(dup, w)


def span_windows(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, pos, g) — every w-token window digest, map-side
    (digests.window_digests over the hoisted token-hash column).  Raises
    ValueError for w > 10 (see SPAN_STEP)."""
    hdf = spread_input(docs.filter(F.col("text").isNotNull())).select(
        "doc_id", token_hashes().alias("h")
    )
    return hdf.select(
        "doc_id",
        F.posexplode(window_digests(F.col("h"), w, SPAN_STEP)).alias("pos", "g"),
    )


def dup_window_table(
    docs: DataFrame, w: int = SPAN_W, min_count: int = SPAN_MIN_COUNT
) -> DataFrame:
    """(g) digests occurring ≥ min_count times corpus-wide — the
    materializable seen-set the streaming span probe consumes (analog of
    band_table for near-dup)."""
    return (
        span_windows(docs, w)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("g")
    )


def _flagged_windows_to_spans(dup: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, pos[, ...]) flagged windows → merged maximal spans via
    gaps-and-islands."""
    from pyspark.sql import Window as W

    wdoc = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wdoc) <= w, F.lit(0)).otherwise(
        F.lit(1)  # NULL lag (first window) also starts an island
    )
    isl = dup.select("doc_id", "pos").withColumn("_brk", brk).withColumn(
        "_island",
        F.sum("_brk").over(wdoc.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        isl.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + w).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def dedup_spans_sql(
    table: str = "documents", w: int = SPAN_W, min_count: int = SPAN_MIN_COUNT
) -> str:
    acc = "h[g.i]"
    for j in range(1, w):
        e = f"h[g.i+{j}]"
        rot = f"((({e} & {(1 << (60 - 6 * j)) - 1}) << {6 * j}) | ({e} >> {60 - 6 * j}))"
        acc = f"xor({acc}, {rot})"
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS tk
  FROM {table} WHERE text IS NOT NULL
),
tokh AS (
  SELECT doc_id,
         list_transform(tk,
             t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS h
  FROM toks
),
wins AS (
  SELECT doc_id, g.i - 1 AS pos, {acc} AS g
  FROM tokh CROSS JOIN unnest(generate_series(1, len(h) - {w - 1})) AS g(i)
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM wins
  ) WHERE cnt >= {min_count}
),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {w} THEN 0 ELSE 1 END AS b
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {w} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, island
"""


def dedup_spans_cut(
    docs: DataFrame,
    w: int = SPAN_W,
    min_count: int = SPAN_MIN_COUNT,
    dup_table: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, text, n_removed) — APPLY substring dedup: tokens covered
    by any duplicated span (see dedup_spans) are cut and the survivors
    re-join single-spaced (the op is defined on the token stream, so
    output text is token-normalized; the oracle mirrors that exactly).
    Docs with no duplicated spans pass through token-normalized with
    n_removed = 0; NULL-text docs are excluded (no tokens).

    Plan shape: the span table is per-doc tiny (merged islands), grouped
    to one array row and joined back on doc_id — ONE extra exchange over
    dedup_spans; the cut itself is a map-side indexed filter
    (O(tokens × spans_per_doc), spans_per_doc bounded by doc length/w)."""
    spans = (
        dedup_spans(docs, w, min_count, dup_table=dup_table)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
        )
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("_tk")
    )
    joined = base.join(spans, "doc_id", "left")
    covered = lambda i: F.coalesce(
        F.exists(
            F.col("_sp"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
        F.lit(False),
    )
    keep = F.filter(F.col("_tk"), lambda t, i: ~covered(i))
    return joined.select(
        "doc_id",
        F.concat_ws(" ", keep).alias("text"),
        (F.size("_tk") - F.size(keep)).cast("bigint").alias("n_removed"),
    )


def dedup_spans_cut_sql(
    table: str = "documents", w: int = SPAN_W, min_count: int = SPAN_MIN_COUNT
) -> str:
    return f"""
WITH span_rows AS ({dedup_spans_sql(table, w, min_count)}),
spans AS (
  SELECT doc_id,
         list({{'s': span_start, 'e': span_end}}) AS sp
  FROM span_rows GROUP BY doc_id
),
base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS tk
  FROM {table} WHERE text IS NOT NULL
),
joined AS (
  SELECT b.doc_id, b.tk, coalesce(s.sp, []) AS sp
  FROM base b LEFT JOIN spans s USING (doc_id)
),
cut AS (
  SELECT doc_id, tk,
         list_filter(
           list_transform(range(1, len(tk) + 1),
             i -> CASE WHEN len(list_filter(sp,
                          x -> i - 1 >= x.s AND i - 1 < x.e)) > 0
                  THEN NULL ELSE tk[i] END),
           t -> t IS NOT NULL) AS keep
  FROM joined
)
SELECT doc_id,
       -- DuckDB array_to_string([]) is NULL; Spark concat_ws gives '' —
       -- a fully-cut doc keeps an (id, '', n) row in both engines
       coalesce(array_to_string(keep, ' '), '') AS text,
       CAST(len(tk) - len(keep) AS BIGINT) AS n_removed
FROM cut
"""


def dedup_survivors(
    docs: DataFrame, n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_survivor) — the step that
    completes the dedup pipeline: pairs → connected components →
    SURVIVOR SELECTION.  Survivor policy is keep-the-LONGEST (max
    n_chars, tiebreak lowest doc_id) — the realistic production choice
    (the canonical copy of a boilerplate cluster is usually its fullest
    rendering), not min-id; singletons are their own surviving cluster.

    Plan shape: component labels from the iterative large/small-star
    rounds (see dedup_components), then the per-cluster argmax is
    ``min(struct(-n_chars, doc_id))`` — a map-side-combinable AGG, never
    a window: a viral cluster (10^6 copies of one page) reduces per task
    instead of sorting inside one partition (same rule as
    dedup_lines_global).  NULL n_chars ranks last (coalesce to -1).  The
    DuckDB oracle keeps a row_number-window formulation — two
    independent derivations of the same survivor set."""
    comp = dedup_components(docs, n_hashes, n_bands)
    sized = comp.join(docs.select("doc_id", "n_chars"), "doc_id", "left")
    best = sized.groupBy("component_id").agg(
        F.min(
            F.struct(
                (-F.coalesce(F.col("n_chars"), F.lit(-1))).alias("neg"),
                F.col("doc_id").alias("doc_id"),
            )
        ).alias("_b"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return (
        sized.join(best, "component_id")
        .select(
            "doc_id",
            F.col("component_id").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("doc_id") == F.col("_b.doc_id")).alias("is_survivor"),
        )
    )


def dedup_survivors_sql(
    table: str = "documents", n_hashes: int = N_MINHASHES, n_bands: int = N_BANDS
) -> str:
    return f"""
WITH comp AS ({dedup_components_sql(table, n_hashes, n_bands)}),
sized AS (
  SELECT c.doc_id, c.component_id, d.n_chars
  FROM comp c LEFT JOIN {table} d ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, component_id,
         count(*) OVER (PARTITION BY component_id) AS cluster_size,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY coalesce(n_chars, -1) DESC,
                                     doc_id ASC) AS rn
  FROM sized
)
SELECT doc_id, component_id AS cluster_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       rn = 1 AS is_survivor
FROM ranked
"""
