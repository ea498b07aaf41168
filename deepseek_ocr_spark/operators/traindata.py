"""Training-data pipeline operators: PII scrubbing, benchmark
contamination flagging, sequence packing.

The three canonical LLM-corpus jobs the dedup/quality families did not yet
cover.  All pure Catalyst (regexp / broadcast semi-join / windowed cumsum)
— no Python on the data path — with exact DuckDB oracles.

Scale shapes:
- pii_scrub: map-only regexp projection, embarrassingly parallel.
- contamination_flags: the benchmark n-gram set is tiny and BROADCAST;
  the corpus side explodes n-grams map-side and aggregates per doc in one
  shuffle.  No corpus self-join.
- seq_pack: P independent shard-local packing problems (shard = doc_id %
  P), each a windowed cumulative sum — at 100 TB pick P so a shard fits a
  task; a single global window would serialize the corpus through one
  partition, which is exactly what the shard split avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepseek_ocr_spark.operators.digests import token_hashes, window_digests

# Conservative patterns with identical semantics in Java regex (Spark) and
# RE2 (DuckDB): greedy character-class quantifiers only — no alternation
# where leftmost-first vs leftmost-longest could diverge.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+\d{7,15}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_ips, n_phones) — redact emails,
    IPv4 addresses and +international phone numbers with typed placeholder
    tokens, counting each.  Replacement cascades email → ip → phone (an
    email never contains an IP-shaped substring after redaction, so the
    cascade order is the deterministic contract, mirrored in the oracle)."""
    t = F.col("text")
    # Python-API regexp functions (NOT F.expr): a SQL string literal would
    # eat the pattern backslashes (\b, \d) — the classic Spark-SQL escape trap
    emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    ips = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
    phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        # size(NULL array) is -1 in Spark; null text must yield NULL counts
        # like the SQL side, so gate on text nullability
        F.when(t.isNull(), F.lit(None)).otherwise(emails).cast("int").alias("n_emails"),
        F.when(t.isNull(), F.lit(None)).otherwise(ips).cast("int").alias("n_ips"),
        F.when(t.isNull(), F.lit(None)).otherwise(phones).cast("int").alias("n_phones"),
    )


def pii_scrub_sql(table: str = "documents") -> str:
    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones
FROM {table}
"""


NGRAM_N = 3
GRAM_STEP = 20  # rotation step of the 3-gram and DSIR bigram digests
BENCH_MOD = 23  # doc_id % BENCH_MOD == 0 plays the held-out benchmark set


def contamination_flags(docs: DataFrame, bench_mod: int = BENCH_MOD) -> DataFrame:
    """(doc_id, n_hits, contaminated) for every NON-benchmark doc — the
    decontamination pass: a training doc sharing any word 3-gram with
    the held-out benchmark set (here: doc_id % bench_mod == 0) is flagged;
    n_hits counts DISTINCT shared n-grams.  The benchmark gram set is
    small by construction → broadcast; the corpus crosses the network
    once, aggregated per doc.  Every distinct/broadcast/join/agg is keyed
    on a 60-bit gram DIGEST (digests.window_digests) — md5 cost is linear
    in TOKENS (hashed once each, never per gram), no gram string is ever
    materialized, and the exchanged payload is BIGINTs, not ~25-byte
    strings."""
    is_bench = F.col("doc_id") % bench_mod == 0
    hdf = docs.select("doc_id", token_hashes().alias("h"))
    # r8: within-doc dedup happens IN-ROW (array_distinct over the digest
    # array, map-side) before the explode, so the per-doc agg is a plain
    # count instead of a two-phase countDistinct — n_hits counts distinct
    # shared grams either way (count over per-doc-distinct instances ≡
    # countDistinct over raw instances), and the bench-side global
    # distinct is unchanged by per-doc pre-dedup.
    grams = hdf.select(
        "doc_id",
        F.explode(
            F.array_distinct(window_digests(F.col("h"), NGRAM_N, GRAM_STEP))
        ).alias("g"),
    )
    bench_grams = grams.filter(is_bench).select("g").distinct()
    corpus = docs.filter(~is_bench)
    hits = (
        grams.filter(~is_bench)
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_flags_sql(table: str = "documents", bench_mod: int = BENCH_MOD) -> str:
    # mirrors digests.token_hashes + window_digests bit-for-bit: 60-bit token
    # md5 window, position-rotated XOR combine (masked shifts keep every
    # intermediate < 2^60 — DuckDB BIGINT shifts are overflow-checked); the
    # two rotated terms spell out the NGRAM_N = 3 window
    rot20 = f"((((h[i+1]) & {(1 << 40) - 1}) << 20) | ((h[i+1]) >> 40))"
    rot40 = f"((((h[i+2]) & {(1 << 20) - 1}) << 40) | ((h[i+2]) >> 20))"
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS tk
  FROM {table}
),
tokh AS (
  SELECT doc_id,
         list_transform(tk,
             t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS h
  FROM toks
),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(h) >= {NGRAM_N}
                THEN list_transform(range(1, len(h) - {NGRAM_N} + 2),
                     i -> xor(xor(h[i], {rot20}), {rot40}))
                ELSE [] END) AS g
  FROM tokh
),
bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {bench_mod} = 0
),
corpus AS (SELECT doc_id FROM {table} WHERE doc_id % {bench_mod} != 0),
hits AS (
  SELECT gr.doc_id, count(DISTINCT gr.g) AS n_hits
  FROM grams gr JOIN bench b USING (g)
  WHERE gr.doc_id % {bench_mod} != 0
  GROUP BY gr.doc_id
)
SELECT c.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h USING (doc_id)
"""


PACK_MAX_TOKENS = 256
PACK_SHARDS = 64  # registered/benched P — large enough that no shard is a
# giant sort partition at the tested SFs; the deployable default below
# scales P with the session instead of pinning it


def seq_pack(
    docs: DataFrame,
    max_tokens: int = PACK_MAX_TOKENS,
    n_shards: int | None = None,
) -> DataFrame:
    """(doc_id, shard, n_tokens, bin_ix) — sequence packing for training:
    greedy sorted-fill of whitespace-token counts into bins of
    ``max_tokens``, independently per shard (shard = doc_id % n_shards).
    bin_ix = floor(exclusive-prefix-sum / max_tokens) within the shard's
    (n_tokens DESC, doc_id) order — deterministic, and a doc longer than
    max_tokens simply spans bins on its own.  NULL-text docs are excluded
    (nothing to pack).

    ``n_shards=None`` (the deployable default) derives P from the
    session's ``spark.sql.shuffle.partitions`` — sized for the cluster,
    so each shard's window sort fits one task at any scale; a single
    global window (P=1) would serialize the corpus through one partition.
    Pass an explicit P when a downstream layout pins it (the registry
    passes PACK_SHARDS so the DuckDB oracle can mirror the value)."""
    if n_shards is None:
        n_shards = max(
            PACK_SHARDS,
            int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        )
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        (F.col("doc_id") % n_shards).cast("int").alias("shard"),
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / max_tokens).cast("bigint").alias("bin_ix"),
    )


DSIR_BUCKETS = 10_000  # deployable default (the paper's 10^4 hash
# buckets); the registry pins a smaller value sized to the driver corpus
# so the DuckDB oracle can mirror it


def _dsir_bucket_instances(
    docs: DataFrame, n_buckets: int, target_lang: str | None = None
) -> DataFrame:
    """(doc_id[, is_t], b) — ONE row per hashed-n-gram instance (unigram
    and bigram 60-bit token digests mod ``n_buckets``), before any
    aggregation.  The scoring paths consume this directly (broadcast-join
    the model, aggregate once per doc) and read only doc_id and text; the
    fit paths pass ``target_lang`` for the label is_t = (lang ==
    target_lang) and count it into the (doc, bucket) feature table."""
    label = []
    if target_lang is not None:
        label = [(F.col("lang") == target_lang).alias("is_t")]
    hdf = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", *label, token_hashes().alias("h")
    )
    h = F.col("h")
    buckets = F.transform(
        F.concat(h, window_digests(h, 2, GRAM_STEP)),
        lambda g: (g % n_buckets).cast("bigint"),
    )
    keys = [c for c in hdf.columns if c != "h"]
    return hdf.select(*keys, F.explode(buckets).alias("b"))


def _dsir_doc_buckets(
    docs: DataFrame, target_lang: str, n_buckets: int
) -> DataFrame:
    """(doc_id, is_t, b, k) — per-doc hashed-n-gram bucket counts, the
    DSIR feature table: unigram and bigram 60-bit token digests mod
    ``n_buckets``.  One shuffle, map-side combinable; ≤ 2·tokens rows per
    doc pre-agg, ≤ n_buckets after."""
    return (
        _dsir_bucket_instances(docs, n_buckets, target_lang)
        .groupBy("doc_id", "is_t", "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )


def dsir_fit(
    docs: DataFrame, target_lang: str = "en", n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(b, lrq) — the fitted DSIR importance model: per-bucket add-1
    smoothed log-ratio ln p_target[b] − ln p_raw[b], quantized ONCE to
    integer micro-nats (BIGINT) so downstream per-doc sums are exact and
    order-insensitive.  The n_buckets-row distribution aggregate is
    eagerly localCheckpoint'ed (NOT persist() — cache entries leak per
    call, CLAUDE.md r4), so the fit costs exactly ONE corpus scan and the
    returned plan reads an ExistingRDD: without the pin, the totals
    sub-aggregate and the ratio projection each re-derive the corpus
    explode (measured: ReusedExchange does not fire across the three
    consumers — 3 scans instead of 1)."""
    dist = (
        _dsir_doc_buckets(docs, target_lang, n_buckets)
        .groupBy("b")
        .agg(
            F.sum("k").alias("cr"),
            F.sum(F.when(F.col("is_t"), F.col("k")).otherwise(F.lit(0))).alias("ct"),
        )
        .localCheckpoint(eager=True)  # n_buckets rows
    )
    totals = dist.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lr = F.log(
        ((F.col("ct") + 1).cast("double") * (F.col("tr") + n_buckets))
        / ((F.col("cr") + 1).cast("double") * (F.col("tt") + n_buckets))
    )
    return dist.crossJoin(F.broadcast(totals)).select(
        "b", F.round(lr * F.lit(1000000.0), 0).cast("bigint").alias("lrq")
    )


def dsir_scores(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
    fit: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_feats, dsir_score) — Data Selection via Importance
    Resampling (Xie et al. 2023): score every document by how much more
    likely its hashed-n-gram profile is under the TARGET distribution
    (here: ``lang = target_lang`` docs) than under the RAW corpus
    distribution.  High scores = target-like; downstream selection keeps
    the top mass (``dsir_topk``).

    Features are the paper's hashed n-grams (see _dsir_doc_buckets);
    both bag-of-buckets models are add-1 smoothed; log w(doc) =
    Σ_b k_b·(ln p_target[b] − ln p_raw[b]).  Each bucket's log-ratio is
    quantized once to integer micro-nats so the per-doc sum is an exact
    BIGINT sum (same discipline as lm_bigram_score); dsir_score is a
    SINGLE rounded expression.  Docs with no tokens have no features and
    are excluded (mirrored in the oracle).

    Plan shape (100 TB): two corpus scans total — one for the fit
    (``dsir_fit``, pinned to a single scan via the checkpointed
    n_buckets-row distribution table), one for scoring (feature explode →
    per-doc bucket agg → BROADCAST join against the m-row model → one
    doc_id agg).  No join is large×large; pass ``fit=`` to score many
    corpora (or a stream) against one fitted model without refitting —
    scoring reads only doc_id and text, so those docs need no lang."""
    if fit is None:
        fit = dsir_fit(docs, target_lang=target_lang, n_buckets=n_buckets)
    # r8: score over gram INSTANCES, not the per-(doc, bucket) count
    # table — the model join is broadcast (map-side) either way, so the
    # pre-aggregation bought nothing but an extra full shuffle + agg of
    # gram-scale rows (guide §2.4).  Σ k·lrq over buckets ≡ Σ lrq over
    # instances and Σ k ≡ count(*), both exact BIGINT sums; the one
    # remaining doc_id agg partial-aggregates map-side to one row per doc
    # per partition.
    return (
        _dsir_bucket_instances(docs, n_buckets)
        .join(F.broadcast(fit), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("lrq").alias("_sq"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(F.col("_sq").cast("double") / F.lit(1000000.0), 4).alias(
                "dsir_score"
            ),
        )
    )


def dsir_topk(
    docs: DataFrame,
    k: int = 100,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
    fit: DataFrame | None = None,
) -> DataFrame:
    """Top-k DSIR selection — the deterministic variant of the paper's
    Gumbel-noise resampling: keep the k highest-scoring docs, ties broken
    by doc_id (exact in both engines — the sort key is the INTEGER
    micro-nat score, so no float tie ambiguity).  Spark compiles the
    orderBy+limit to TakeOrderedAndProject: O(k) state per partition plus
    a k-row driver merge — no global sort at any scale."""
    scored = dsir_scores(docs, target_lang=target_lang, n_buckets=n_buckets, fit=fit)
    # dsir_score = _sq/1e6 rounded; sorting on (dsir_score, doc_id) is
    # equivalent to sorting on the exact integer _sq except for round()
    # collisions, which the doc_id tiebreak then resolves identically in
    # both engines only if the rounded values equal — round() is
    # monotonic, so order is preserved and parity holds.
    return scored.orderBy(
        F.col("dsir_score").desc(), F.col("doc_id").asc()
    ).limit(k)


def dsir_topk_sql(
    table: str = "documents",
    k: int = 100,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
) -> str:
    # mirrors digests.token_hashes + the unigram/bigram bucket digests bit-for-
    # bit (same 60-bit md5 window and masked-shift rot20 as
    # contamination_flags_sql); log-ratio quantized once to micro-nats
    rot20 = f"((((h[i+1]) & {(1 << 40) - 1}) << 20) | ((h[i+1]) >> 40))"
    return f"""
WITH tokh AS (
  SELECT doc_id, lang = '{target_lang}' AS is_t,
         list_transform(list_filter(string_split(text, ' '), t -> t != ''),
             t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS h
  FROM {table} WHERE text IS NOT NULL
),
feats AS (
  SELECT doc_id, is_t,
         unnest(list_concat(
             list_transform(h, g -> g % {n_buckets}),
             CASE WHEN len(h) >= 2
              THEN list_transform(range(1, len(h)),
                   i -> xor(h[i], {rot20}) % {n_buckets})
              ELSE [] END)) AS b
  FROM tokh
),
doc_b AS (
  SELECT doc_id, is_t, b, count(*) AS k FROM feats GROUP BY doc_id, is_t, b
),
dist AS (
  SELECT b, CAST(sum(k) AS BIGINT) AS cr,
         CAST(sum(CASE WHEN is_t THEN k ELSE 0 END) AS BIGINT) AS ct
  FROM doc_b GROUP BY b
),
totals AS (
  SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt
  FROM dist
),
ratio AS (
  SELECT b,
         CAST(round(ln((CAST(ct + 1 AS DOUBLE) * (tr + {n_buckets}))
                       / (CAST(cr + 1 AS DOUBLE) * (tt + {n_buckets})))
                    * 1000000.0) AS BIGINT) AS lrq
  FROM dist CROSS JOIN totals
),
scored AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats,
         round(CAST(CAST(sum(k * lrq) AS BIGINT) AS DOUBLE) / 1000000.0, 4)
           AS dsir_score
  FROM doc_b JOIN ratio USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_feats, dsir_score
FROM scored
ORDER BY dsir_score DESC, doc_id ASC
LIMIT {k}
"""


def seq_pack_sql(
    table: str = "documents",
    max_tokens: int = PACK_MAX_TOKENS,
    n_shards: int = PACK_SHARDS,
) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % {n_shards} AS INT) AS shard,
         CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT)
           AS n_tokens
  FROM {table} WHERE text IS NOT NULL
)
SELECT doc_id, shard, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard
                     ORDER BY n_tokens DESC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / {max_tokens}) AS BIGINT) AS bin_ix
FROM base
"""


# --- trained quality/language classifier (fasttext-shaped linear model) ------

CLF_BUCKETS = 128  # hashed-feature dim; deployable values are 2^18+ —
#                    the oracle unrolls iterations, so tests keep it small
CLF_ITERS = 12
CLF_STEP_DIV = 30_000  # integer learning-rate divisor (see clf_fit)


def _floordiv(col, d: int):
    """Exact floor division for BIGINT columns: (a - pmod(a, d)) / d.
    The numerator is exactly divisible, so the double division is exact
    for |a| < 2^53 (documented bound; the m-row gradient table at test
    scales is far inside it)."""
    return ((col - F.pmod(col, F.lit(d))) / F.lit(d)).cast("long")


def _clf_features(docs: DataFrame, target_lang: str, n_buckets: int) -> DataFrame:
    """The classifier design matrix: DSIR's hashed unigram+bigram bucket
    counts plus a constant BIAS feature (bucket −1, k=1 per doc) — the
    bias absorbs the class prior so the per-bucket weights spend their
    gradient steps on the DISCRIMINATIVE signal, not the common mode."""
    bias = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        (F.col("lang") == target_lang).alias("is_t"),
        F.lit(-1).cast("bigint").alias("b"),
        F.lit(1).cast("bigint").alias("k"),
    )
    return _dsir_doc_buckets(docs, target_lang, n_buckets).unionByName(bias)


def clf_fit(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = CLF_BUCKETS,
    iters: int = CLF_ITERS,
    step_div: int = CLF_STEP_DIV,
) -> DataFrame:
    """(b, wq) — a fasttext-SHAPED linear classifier trained as a Spark
    job: hashed unigram+bigram bucket counts (the same 60-bit-digest
    feature map as DSIR) → linear score → HARD-sigmoid
    p = clamp(z/4 + 1/2, 0, 1), trained by ``iters`` full-batch
    gradient steps against the weak label y = (lang == target_lang) —
    the fasttext langid/quality recipe with the sigmoid replaced by its
    piecewise-linear surrogate so EVERY quantity is an exact BIGINT and
    the DuckDB oracle matches bit-for-bit (no exp() cross-engine ULP
    risk; same discipline as the k-means micro-unit centroids).

    Units: weights ``wq`` are micro-z (1e6 = 1.0 of z); per-doc
    z_q = Σ k_b·wq[b]; p4 = clamp(z_q + 2e6, 0, 4e6) is p in
    quarter-micro units.  Squared-error gradient: the hard sigmoid's
    dead zones (p4 at 0 or 4e6) contribute nothing; elsewhere the
    per-doc error e4 = p4 − 4e6·y flows back through the doc's bucket
    counts.  Update w ← w − floor(g / step_div) (integer learning
    rate — the only division, exact).

    Plan shape (100 TB): the (doc_id, y, b, k) design matrix is
    materialised ONCE (eager localCheckpoint — the fit's iterations
    must not re-derive the corpus explode per step, the DSIR lesson);
    each iteration is one broadcast join + doc agg (z) and one
    doc_id-keyed join + bucket agg (gradient) over that matrix; the
    m-row weights table is localCheckpoint'ed per step exactly like the
    k-means centroids, so the final plan reads an ExistingRDD."""
    feats = _clf_features(docs, target_lang, n_buckets).localCheckpoint(
        eager=True
    )
    weights = (
        feats.select("b").distinct().select("b", F.lit(0).cast("long").alias("wq"))
    ).localCheckpoint(eager=True)
    p4 = F.least(
        F.greatest(F.col("zq") + F.lit(2_000_000), F.lit(0).cast("long")),
        F.lit(4_000_000).cast("long"),
    )
    active = (p4 > 0) & (p4 < 4_000_000)
    e4 = F.when(
        active,
        p4 - F.when(F.col("is_t"), F.lit(4_000_000)).otherwise(F.lit(0)),
    ).otherwise(F.lit(0)).cast("long")
    for _ in range(iters):
        z = (
            feats.join(F.broadcast(weights), "b")
            .groupBy("doc_id", "is_t")
            .agg(F.sum(F.col("k") * F.col("wq")).cast("long").alias("zq"))
        )
        docerr = z.select("doc_id", e4.alias("ea4"))
        grad = (
            feats.join(docerr, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("k") * F.col("ea4")).cast("long").alias("g"))
        )
        weights = (
            weights.join(grad, "b", "left")
            .select(
                "b",
                (
                    F.col("wq")
                    - _floordiv(F.coalesce(F.col("g"), F.lit(0)), step_div)
                ).alias("wq"),
            )
            .localCheckpoint(eager=True)
        )
    return weights


def clf_scores(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = CLF_BUCKETS,
    iters: int = CLF_ITERS,
    step_div: int = CLF_STEP_DIV,
    fit: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_feats, clf_score) — every document scored through the
    trained linear model; clf_score = hard-sigmoid probability rounded
    once to 4 places (a SINGLE rounded expression, hash-parity rule).
    Pass ``fit=`` to score many corpora / a stream against one trained
    model without refitting; scoring reads only doc_id and text, so those
    docs need no lang.  One corpus scan + broadcast join."""
    if fit is None:
        fit = clf_fit(docs, target_lang, n_buckets, iters, step_div)
    # r8: score over gram INSTANCES plus one bias row per doc instead of
    # the aggregated (doc, bucket, k) design matrix — the weights join is
    # broadcast either way, so the pre-aggregation was one full shuffle +
    # agg for nothing (same restructure as dsir_scores; Σ k·wq ≡ Σ wq
    # over instances, Σ k ≡ count(*), exact BIGINT).
    inst = _dsir_bucket_instances(docs, n_buckets)
    bias = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.lit(-1).cast("bigint").alias("b")
    )
    zq = F.sum("wq").cast("long")
    p4 = F.least(
        F.greatest(zq + F.lit(2_000_000), F.lit(0).cast("long")),
        F.lit(4_000_000).cast("long"),
    )
    return (
        inst.unionByName(bias)
        .join(F.broadcast(fit), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.round(p4.cast("double") / F.lit(4_000_000.0), 4).alias("clf_score"),
        )
    )


def clf_topk(
    docs: DataFrame,
    k: int = 100,
    target_lang: str = "en",
    n_buckets: int = CLF_BUCKETS,
    iters: int = CLF_ITERS,
    step_div: int = CLF_STEP_DIV,
) -> DataFrame:
    """Top-k most target-like docs — orderBy+limit so the plan compiles
    to TakeOrderedAndProject (never a global window; the DSIR rule)."""
    return (
        clf_scores(docs, target_lang, n_buckets, iters, step_div)
        .orderBy(F.col("clf_score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def clf_topk_sql(
    table: str = "documents",
    k: int = 100,
    target_lang: str = "en",
    n_buckets: int = CLF_BUCKETS,
    iters: int = CLF_ITERS,
    step_div: int = CLF_STEP_DIV,
) -> str:
    # mirrors the Spark training loop bit-for-bit: same digest feature
    # map as dsir_topk_sql, weights unrolled one CTE pair per gradient
    # step (the _kmeans_cents_cte pattern), floor-division spelled
    # (g - ((g % D) + D) % D) // D so both engines floor identically
    rot20 = f"((((h[i+1]) & {(1 << 40) - 1}) << 20) | ((h[i+1]) >> 40))"
    d = step_div
    parts = [f"""
WITH tokh AS (
  SELECT doc_id, lang = '{target_lang}' AS is_t,
         list_transform(list_filter(string_split(text, ' '), t -> t != ''),
             t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS h
  FROM {table} WHERE text IS NOT NULL
),
feats AS (
  SELECT doc_id, is_t,
         unnest(list_concat(
             list_transform(h, g -> g % {n_buckets}),
             CASE WHEN len(h) >= 2
              THEN list_transform(range(1, len(h)),
                   i -> xor(h[i], {rot20}) % {n_buckets})
              ELSE [] END)) AS b
  FROM tokh
),
doc_b AS MATERIALIZED (
  SELECT doc_id, is_t, b, CAST(count(*) AS BIGINT) AS k
  FROM feats GROUP BY doc_id, is_t, b
  UNION ALL
  SELECT doc_id, is_t, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM tokh
),
w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wq FROM doc_b)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
z{i} AS MATERIALIZED (
  SELECT doc_id, is_t, CAST(sum(k * wq) AS BIGINT) AS zq
  FROM doc_b JOIN w{i - 1} USING (b) GROUP BY doc_id, is_t
),
e{i} AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN zq + 2000000 > 0 AND zq + 2000000 < 4000000
              THEN (zq + 2000000)
                   - CASE WHEN is_t THEN 4000000 ELSE 0 END
              ELSE 0 END AS ea4
  FROM z{i}
),
g{i} AS MATERIALIZED (
  SELECT b, CAST(sum(k * ea4) AS BIGINT) AS g
  FROM doc_b JOIN e{i} USING (doc_id) GROUP BY b
),
w{i} AS MATERIALIZED (
  SELECT b, wq - ((COALESCE(g, 0)
                   - ((COALESCE(g, 0) % {d}) + {d}) % {d}) // {d}) AS wq
  FROM w{i - 1} LEFT JOIN g{i} USING (b)
)""")
    parts.append(f""",
scored AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats,
         round(CAST(LEAST(GREATEST(CAST(sum(k * wq) AS BIGINT) + 2000000, 0),
                          4000000) AS DOUBLE) / 4000000.0, 4) AS clf_score
  FROM doc_b JOIN w{iters} USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_feats, clf_score
FROM scored
ORDER BY clf_score DESC, doc_id ASC
LIMIT {k}
""")
    return "".join(parts)
