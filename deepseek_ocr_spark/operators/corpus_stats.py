"""Corpus statistics operators — the sketch/index layer of a training-data
pipeline: cardinality estimation, term weighting, and inverted-index build.

All three are EXACTLY oracle-checkable (the sketch hash is md5, identical
hex in Spark and DuckDB; float outputs are single-expression computations
rounded to 4 decimals so both engines agree bit-for-bit on the repr):

- ``hll_distinct``     — a deterministic HyperLogLog over md5: 256 registers,
  rho capped at 32 (keeps the harmonic sum EXACT in float64 — every term is
  a power of two ≥ 2^-32, so summation order cannot round), small-range
  linear-counting correction, and the relative error vs the exact count in
  the same row. Like similarity.ann_recall, the sketch's QUALITY is what
  the oracle tracks, not just its plumbing. At 100 TB the register table is
  the shuffle (256 rows after map-side partial max) — this is THE way to
  count distinct urls across a 10^12-row corpus in one pass.
- ``tfidf_top_terms``  — tf×idf term ranking per source: one token explode,
  two aggregations, a row_number window; idf = ln((N+1)/(df+1)).
- ``inverted_index``   — token → sorted posting list (doc ids), the search
  /dedup index-build shape; postings arrays compare exactly cross-engine.

Scale notes: hll_distinct is map-side-combinable (max per register) — one
256-row shuffle regardless of corpus size. tfidf/inverted_index shuffle on
token (cardinality ~ vocabulary, the classic inverted-index build); a df
floor keeps posting lists bounded (stopword-like tokens dominate, and a
100 TB deployment would also cap postings per token — here the corpus is
driver-scale and the floor is the demonstrated knob).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepseek_ocr_spark.operators.digests import md5_int

HLL_BUCKETS = 256  # 2^8 registers — first 2 md5 hex chars
RHO_CAP = 32
# standard HLL bias constant for m >= 128
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_BUCKETS)


def hll_registers(docs: DataFrame, col: str) -> DataFrame:
    """(bucket, m_j) — the HLL register table. Works unchanged on a
    STREAMING DataFrame (update mode): max is associative/commutative, so
    this is exactly 256 rows of incremental state (a streaming register
    table equals this batch table over the same prefix; pinned in
    tests/test_streaming.py).

    NULL values are excluded BEFORE sketching — count-distinct semantics
    ignore NULL in both engines, and an unfiltered NULL would fold into a
    phantom max-rho register (least() skips nulls), biasing the estimate
    against its own n_exact ground truth."""
    h = docs.filter(F.col(col).isNotNull()).select(F.md5(F.col(col)).alias("h")).select(
        F.conv(F.substring("h", 1, 2), 16, 10).cast("int").alias("bucket"),
        F.substring("h", 3, 30).alias("rest"),
    )
    stripped = F.expr("trim(LEADING '0' FROM rest)")
    fd = F.substring(stripped, 1, 1)
    clz4 = (
        F.when(fd == "1", 3)
        .when(fd.isin("2", "3"), 2)
        .when(fd.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.least(
        F.lit(RHO_CAP),
        (F.length("rest") - F.length(stripped)) * 4 + clz4 + 1,
    )
    return (
        h.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_distinct(docs: DataFrame, col: str = "url") -> DataFrame:
    """One row: (m, n_exact, hll_estimate, rel_err) — deterministic-HLL
    distinct count of ``col`` with its exact-count ground truth."""
    regs = hll_registers(docs, col)
    m = HLL_BUCKETS
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("s"),
        F.count(F.lit(1)).alias("present"),
    )
    exact = docs.agg(F.countDistinct(F.col(col)).alias("n_exact"))
    joined = agg.crossJoin(F.broadcast(exact))
    zeros = F.lit(m) - F.col("present")
    denom = F.col("s") + zeros.cast("double")
    e_raw = F.lit(HLL_ALPHA * m * m) / denom
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    est_r = F.round(est, 4)
    return joined.select(
        F.lit(m).alias("m"),
        F.col("n_exact"),
        est_r.alias("hll_estimate"),
        F.round(
            F.abs(est_r - F.col("n_exact").cast("double")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


def hll_distinct_sql(table: str = "documents", col: str = "url") -> str:
    m = HLL_BUCKETS
    return f"""
WITH h AS (
  SELECT CAST(('0x' || substr(md5({col}), 1, 2)) AS INT) AS bucket,
         substr(md5({col}), 3, 30) AS rest
  FROM {table} WHERE {col} IS NOT NULL
),
r AS (
  SELECT bucket,
         least({RHO_CAP},
               (length(rest) - length(ltrim(rest, '0'))) * 4
               + CASE substr(ltrim(rest, '0'), 1, 1)
                   WHEN '1' THEN 3
                   WHEN '2' THEN 2 WHEN '3' THEN 2
                   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                   ELSE 0 END
               + 1) AS rho
  FROM h
),
regs AS (SELECT bucket, max(rho) AS m_j FROM r GROUP BY bucket),
agg AS (
  SELECT sum(power(2.0, -m_j)) AS s, count(*) AS present FROM regs
),
exact AS (SELECT count(DISTINCT {col}) AS n_exact FROM {table}),
est AS (
  SELECT
    CASE WHEN ({HLL_ALPHA * m * m!r} / (s + CAST({m} - present AS DOUBLE)))
              <= {2.5 * m}
          AND ({m} - present) > 0
         THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - present AS DOUBLE))
         ELSE {HLL_ALPHA * m * m!r} / (s + CAST({m} - present AS DOUBLE))
    END AS e,
    n_exact
  FROM agg, exact
)
SELECT {m} AS m, n_exact, round(e, 4) AS hll_estimate,
       round(abs(round(e, 4) - CAST(n_exact AS DOUBLE)) / n_exact, 4) AS rel_err
FROM est
"""


def _tokens(docs: DataFrame) -> DataFrame:
    return (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """(source, token, tf, score, rank) — top-k tf×idf terms per source;
    idf = ln((N+1)/(df+1)) with N = distinct sources. Ranking uses the
    ROUNDED score (deterministic cross-engine order), token as tiebreak."""
    toks = _tokens(docs)
    tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df = count over a token window on the ALREADY-AGGREGATED tf (one row
    # per (source, token)): no second pass over the raw token stream, no
    # self-join — tf rows per token IS the document frequency
    df_w = F.count(F.lit(1)).over(Window.partitionBy("token"))
    nsrc = docs.agg(F.countDistinct("source").alias("n_src"))
    scored = tf.withColumn("df", df_w).crossJoin(F.broadcast(nsrc)).select(
        "source",
        "token",
        "tf",
        F.round(
            F.col("tf")
            * F.log((F.col("n_src") + 1).cast("double") / (F.col("df") + 1)),
            4,
        ).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def tfidf_top_terms_sql(table: str = "documents", k: int = 3) -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM {table}
),
t AS (SELECT source, token FROM toks WHERE token != ''),
tf AS (SELECT source, token, count(*) AS tf FROM t GROUP BY source, token),
tfd AS (
  SELECT source, token, tf, count(*) OVER (PARTITION BY token) AS df FROM tf
),
n AS (SELECT count(DISTINCT source) AS n_src FROM {table}),
scored AS (
  SELECT tfd.source, tfd.token, tfd.tf,
         round(tfd.tf * ln(CAST(n.n_src + 1 AS DOUBLE) / (tfd.df + 1)), 4) AS score
  FROM tfd, n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, token ASC) AS rank
  FROM scored
)
SELECT source, token, tf, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def inverted_index(
    docs: DataFrame, min_df: int = 3, max_postings: int | None = None
) -> DataFrame:
    """(token, df, postings) — sorted doc_id posting list per token with at
    least ``min_df`` distinct docs. ``df`` is always the FULL distinct-doc
    count; ``max_postings`` truncates the materialized list to its first
    ``max_postings`` sorted ids (the stopword bound: a 10^12-doc corpus puts
    ~10^12 doc_ids in the "the" row — the cap keeps any single output row
    bytes-bounded while df still reports the true frequency)."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    # collect_set dedups inside the single token shuffle (df = postings
    # size) — a separate distinct pass would be a second full shuffle of
    # every (doc, token) pair
    agg = toks.groupBy("token").agg(
        F.array_sort(F.collect_set("doc_id")).alias("all_postings")
    )
    postings = (
        F.slice("all_postings", 1, max_postings)
        if max_postings is not None
        else F.col("all_postings")
    )
    return (
        agg.select(
            "token",
            F.size("all_postings").cast("bigint").alias("df"),
            postings.alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def inverted_index_sql(
    table: str = "documents", min_df: int = 3, max_postings: int | None = None
) -> str:
    slice_expr = (
        f"list_slice(postings, 1, {max_postings})"
        if max_postings is not None
        else "postings"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {table}
  ) WHERE token != ''
),
idx AS (
  SELECT token, list_sort(list(DISTINCT doc_id)) AS postings
  FROM toks GROUP BY token
)
SELECT token, CAST(len(postings) AS BIGINT) AS df, {slice_expr} AS postings
FROM idx WHERE len(postings) >= {min_df}
"""


def inverted_index_csv(
    docs: DataFrame, min_df: int = 3, max_postings: int | None = None
) -> DataFrame:
    """`inverted_index` with the posting list serialized as a comma-joined
    STRING — the registry/driver contract: the correctness driver
    canonicalizes results through a pandas sort, which cannot hash list
    cells (r4 red row), so every registry query must emit scalar columns
    only. Library users wanting the typed array call `inverted_index`."""
    idx = inverted_index(docs, min_df=min_df, max_postings=max_postings)
    return idx.select(
        "token",
        "df",
        F.expr(
            "array_join(transform(postings, x -> cast(x as string)), ',')"
        ).alias("postings"),
    )


def inverted_index_csv_sql(
    table: str = "documents", min_df: int = 3, max_postings: int | None = None
) -> str:
    inner = inverted_index_sql(table, min_df=min_df, max_postings=max_postings)
    return f"""
SELECT token, df, array_to_string(postings, ',') AS postings
FROM ({inner})
"""


# --- Bloom filter (seen-set sketch) ----------------------------------------------

BLOOM_BITS = 4096  # sized for the sf0.01 correctness corpus (~1k insertions
# -> ~20% fill, FP ~0.2%); production sizes m ~ 10-15 bits/key per day-shard
BLOOM_SLOTS = BLOOM_BITS // 32  # 128 x 32-bit words (4096 bits)
# 32-bit words on purpose: DuckDB's checked arithmetic rejects
# 1::BIGINT << 63 (sign-bit overflow); shifts <= 31 are exact and
# identical in both engines
BLOOM_K = 4  # hash functions = disjoint md5 hex windows


def bloom_membership(docs: DataFrame, corpus_mod: int = 2) -> DataFrame:
    """(doc_id, in_bloom, actually_in) — deterministic Bloom-filter
    membership: build a BLOOM_BITS-bit filter over the 'corpus' half
    (doc_id % corpus_mod == 0) of the documents' text, probe EVERY doc.
    The false-positive behavior is part of the observable (in_bloom may be
    true where actually_in is false, never the reverse) — like the HLL,
    the sketch itself is oracle-tracked, not just its plumbing.

    Hashes are BLOOM_K disjoint 8-hex-char windows of md5(text) mod
    BLOOM_BITS (digests.md5_int, whose DuckDB mirror reproduces the exact
    bits). Scale shape: the filter BUILD is one explode + one bit_or
    aggregation of at most BLOOM_SLOTS (128) word
    rows (at 100 TB: the materialized daily seen-set, bytes-sized); the
    PROBE joins that tiny
    filter BROADCAST onto map-side probe positions — no corpus shuffle.
    NULL text excluded on both sides (no md5 to hash)."""
    base = docs.filter(F.col("text").isNotNull())
    pos_arr = F.array(
        *[md5_int(F.col("text"), 1 + 8 * i, 8) % BLOOM_BITS for i in range(BLOOM_K)]
    )
    corpus_pos = (
        base.filter(F.col("doc_id") % corpus_mod == 0)
        .select(F.explode(pos_arr).alias("p"))
    )
    bloom = (
        corpus_pos.select(
            (F.col("p") / 32).cast("int").alias("slot"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("m"),
        )
        .groupBy("slot")
        .agg(F.bit_or("m").alias("bits"))
    )
    probes = base.select(
        "doc_id",
        (F.col("doc_id") % corpus_mod == 0).alias("actually_in"),
        F.explode(pos_arr).alias("p"),
    ).select(
        "doc_id",
        "actually_in",
        (F.col("p") / 32).cast("int").alias("slot"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("m"),
    )
    hits = probes.join(F.broadcast(bloom), "slot", "left").select(
        "doc_id",
        "actually_in",
        (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("m")) != 0).alias("hit"),
    )
    return hits.groupBy("doc_id").agg(
        F.bool_and("actually_in").alias("actually_in"),
        F.bool_and("hit").alias("in_bloom"),
    ).select("doc_id", "in_bloom", "actually_in")


def bloom_membership_sql(table: str = "documents", corpus_mod: int = 2) -> str:
    pos_union = "\n    UNION ALL ".join(
        f"SELECT doc_id, CAST(('0x' || substr(md5(text), {1 + 8 * i}, 8)) AS BIGINT)"
        f" % {BLOOM_BITS} AS p FROM base"
        for i in range(BLOOM_K)
    )
    return f"""
WITH base AS (SELECT doc_id, text FROM {table} WHERE text IS NOT NULL),
pos AS (
    {pos_union}
),
bloom AS (
  SELECT CAST(p // 32 AS INT) AS slot,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM pos WHERE doc_id % {corpus_mod} = 0 GROUP BY 1
),
hits AS (
  SELECT pos.doc_id, (pos.doc_id % {corpus_mod} = 0) AS actually_in,
         (coalesce(b.bits, 0) & (CAST(1 AS BIGINT) << CAST(pos.p % 32 AS INT))) != 0 AS hit
  FROM pos LEFT JOIN bloom b ON CAST(pos.p // 32 AS INT) = b.slot
)
SELECT doc_id, bool_and(hit) AS in_bloom, bool_and(actually_in) AS actually_in
FROM hits GROUP BY doc_id
"""


# --- add-one bigram LM scoring (CCNet-style perplexity filter) ---------------


def lm_bigram_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, nll, ppl) — corpus-trained add-one bigram
    language-model score per document, the relational analog of CCNet's
    KenLM perplexity filter (Wenzek et al. 2020): documents whose token
    transitions are unusual for the corpus score high and get filtered /
    bucketed downstream.

    Model: P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V) over whitespace tokens
    (V = corpus vocabulary size); nll = -avg ln P over the doc's bigram
    instances, ppl = exp(nll).  Each bigram's ln P is quantized once to
    integer micro-nats so the per-doc sum is an exact BIGINT sum (order-
    insensitive); the final floats are SINGLE rounded expressions
    (round(_,4)) so Spark and DuckDB agree bit-for-bit.

    Plan shape (100 TB): per-doc bigram COUNTS aggregate first (one
    shuffle, map-side combinable — a doc's repeated bigram is one row),
    the global bigram/unigram tables derive from that aggregate (token-
    key shuffles, cardinality ~ vocabulary²-observed / vocabulary), and
    scoring is two hash joins against those tables with the probe side
    already per-doc-deduped (a stopword bigram contributes ≤ n_docs probe
    rows, AQE skew-join splits the hot partitions) + one final doc_id
    agg.  V is a 1-row broadcast.  Docs with < 2 tokens have no bigrams
    and are excluded (mirrored in the oracle)."""
    # Deliberately keyed on token STRINGS, not md5 digests: measured at
    # sf0.1 min-of-4, the digest variant is SLOWER (1.48 s vs 1.16 s) —
    # tokens are short (~8 B), so the md5 pass costs more than the
    # marginal shuffle-payload saving.  The digest trick pays off only
    # when the key is long (contamination's ~25 B grams) or the keyed
    # table is broadcast.
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    tdf = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("_t")
    )
    n = F.size("_t")
    # hoisted-column rule (CLAUDE.md r6): element_at over an inline
    # transform would re-evaluate the split per element
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("_t"), i).alias("w1"),
                F.element_at(F.col("_t"), i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_bg = (
        tdf.select("doc_id", F.explode(pairs).alias("p"))
        .groupBy("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    bg = doc_bg.groupBy("w1", "w2").agg(F.sum("k").alias("cb"))
    uni = (
        tdf.select(F.explode("_t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    # V = uni's row count (every cu >= 1). Reading cu keeps uni whole, so
    # this and the model join share one token exchange; count(1) would let
    # Catalyst prune cu and explode + shuffle the tokens a second time.
    vocab = uni.agg(F.count_if(F.col("cu") > 0).alias("v"))
    # exact-arithmetic discipline (same rule as cents/HLL): each bigram's
    # ln P is quantized ONCE to integer micro-nats, so the per-doc sum is
    # a BIGINT sum — partition/aggregation order cannot change the value
    # (a raw double sum(k*logp) under round(_,4) could flip on a rounding
    # boundary between Spark and DuckDB)
    logp = F.log((F.col("cb") + 1).cast("double") / (F.col("cu") + F.col("v")))
    lq = F.round(logp * F.lit(1000000.0), 0).cast("bigint")
    # r8 join-order restructure (guide §3): assemble the MODEL table first
    # (bg ⋈ uni ⋈ vocab — distinct-bigram-sized, far smaller than the
    # per-doc probe side), then probe it with doc_bg in ONE join instead
    # of dragging the big side through two successive joins; same inner-
    # join multiset, same lq per bigram. shuffle_hash skips the sort of
    # the multi-million-row probe side (guide §3.1).
    model = (
        bg.join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("w1", "w2", lq.alias("lq"))
    )
    scored = doc_bg.join(model.hint("shuffle_hash"), ["w1", "w2"])
    agg = scored.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        (
            (-F.sum(F.col("k") * F.col("lq"))).cast("double")
            / F.sum("k")
            / F.lit(1000000.0)
        ).alias("_nll"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("_nll"), 4).alias("nll"),
        F.round(F.exp(F.col("_nll")), 4).alias("ppl"),
    )


def lm_bigram_score_sql(table: str = "documents") -> str:
    return f"""
WITH tok_arrs AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '') AS t
  FROM {table} WHERE text IS NOT NULL
),
doc_bg AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS k
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)),
                       i -> {{'w1': t[i], 'w2': t[i+1]}})
                  ELSE [] END) AS p
    FROM tok_arrs
  ) GROUP BY doc_id, p.w1, p.w2
),
bg AS (SELECT w1, w2, sum(k) AS cb FROM doc_bg GROUP BY w1, w2),
uni AS (
  SELECT t.token, count(*) AS cu FROM (
    SELECT unnest(t) AS token FROM tok_arrs
  ) t GROUP BY t.token
),
vocab AS (SELECT count(*) AS v FROM uni),
scored AS (
  SELECT d.doc_id, d.k,
         CAST(round(ln(CAST(b.cb + 1 AS DOUBLE) / (u.cu + vocab.v))
                    * 1000000.0) AS BIGINT) AS lq
  FROM doc_bg d
  JOIN bg b ON d.w1 = b.w1 AND d.w2 = b.w2
  JOIN uni u ON d.w1 = u.token
  CROSS JOIN vocab
),
agg AS (
  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         CAST(-CAST(sum(k * lq) AS BIGINT) AS DOUBLE)
           / CAST(sum(k) AS BIGINT) / 1000000.0 AS _nll
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, round(_nll, 4) AS nll, round(exp(_nll), 4) AS ppl
FROM agg
"""


# --- BPE merge-candidate counting (tokenizer-training prep) ------------------

BPE_TOP_K = 20


def bpe_top_pairs(docs: DataFrame, k: int = BPE_TOP_K) -> DataFrame:
    """(a, b, cnt, rank) — the top-k BPE merge candidates: corpus-weighted
    counts of adjacent character pairs inside words, the first iteration
    of byte-pair-encoding tokenizer training (Sennrich et al. 2016).

    Scale shape — the classic BPE trick, relationally: the corpus
    collapses to the WORD-FREQUENCY table first (one token shuffle,
    output ~vocabulary-sized), and character pairs explode over DISTINCT
    words only, weighted by word count — pair counting never touches the
    corpus again, so a 10^12-doc corpus costs one word shuffle plus work
    proportional to the vocabulary.  Ranking uses (cnt DESC, a, b) for a
    deterministic cross-engine order.  No end-of-word marker (documented
    simplification — the pair statistics, not a full trainer)."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    n = F.length("word")
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.substring(F.col("word"), i, 1).alias("a"),
                F.substring(F.col("word"), i + F.lit(1), 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pc = (
        words.select("wc", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
    return (
        pc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a", "b", "cnt", F.col("rank").cast("int").alias("rank"))
    )


def bpe_top_pairs_sql(table: str = "documents", k: int = BPE_TOP_K) -> str:
    return f"""
WITH words AS (
  SELECT word, count(*) AS wc FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM {table}
  ) WHERE word != '' GROUP BY word
),
pc AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(wc) AS BIGINT) AS cnt
  FROM (
    SELECT wc,
           unnest(CASE WHEN length(word) >= 2
                  THEN list_transform(range(1, length(word)),
                       i -> {{'a': substr(word, i, 1),
                              'b': substr(word, i + 1, 1)}})
                  ELSE [] END) AS p
    FROM words
  ) GROUP BY p.a, p.b
),
ranked AS (
  SELECT a, b, cnt,
         row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rank
  FROM pc
)
SELECT a, b, cnt, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""


# --- multi-iteration BPE: the actual tokenizer-training merge loop -----------

BPE_MERGE_STEPS = 5


def _bpe_adjacent_pairs(syms) -> "F.Column":
    """Adjacent symbol pairs of an array<string> column (hoisted column
    rule: ``syms`` is a real projected column, so element_at is O(1))."""
    n = F.size(syms)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + F.lit(1)).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _bpe_apply_merge(syms, a: str, b: str) -> "F.Column":
    """Greedy left-to-right merge of adjacent (a, b) into a||b — the
    classic BPE application rule ("aaaa" + (a,a) → [aa, aa]): a left fold
    that conditionally rewrites the accumulator's last element. The merge
    pair is a LITERAL by plan-build time (collected by the driver loop),
    mirroring the DuckDB lambda's captured 1-row join."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_merges(docs: DataFrame, n_merges: int = BPE_MERGE_STEPS) -> DataFrame:
    """(step, a, b, cnt) — the first ``n_merges`` BPE merges in training
    order (Sennrich et al. 2016), i.e. the actual tokenizer-training loop
    rather than bpe_top_pairs' single-step candidate ranking.

    Scale shape: the corpus collapses ONCE to the word-frequency table
    (~vocabulary-sized); each iteration re-counts adjacent symbol pairs
    over that table and applies the argmax merge as a fold — the corpus is
    never rescanned, the same driver-loop-over-small-state shape as
    kmeans_codebook and components_from_edges. The state table is
    localCheckpoint'ed per round so fold lambdas don't compound into one
    exponential plan. Merge selection is a TakeOrdered 1-row collect
    (cnt DESC, a, b — deterministic cross-engine tie-break); the DuckDB
    oracle unrolls the same K iterations."""
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(F.split("word", "").alias("syms"), "wc")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pc = (
            words.select("wc", F.explode(_bpe_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").cast("bigint").alias("cnt"))
        )
        top = (
            pc.orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((step, a, b, cnt))
        words = words.select(
            _bpe_apply_merge(F.col("syms"), a, b).alias("syms"), "wc"
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "step INT, a STRING, b STRING, cnt BIGINT"
    )


def _bpe_chain_cte(table: str, n_merges: int) -> list[str]:
    """The unrolled K-iteration merge chain as CTE fragments (words0 …
    words{K}, pc{j}, m{j}); the ``word`` string rides along so consumers
    (bpe_encode_stats_sql) can join the final symbol table back to the
    corpus. Shared by bpe_merges_sql and bpe_encode_stats_sql."""
    parts = [
        f"""words0 AS (
  SELECT word, string_split(word, '') AS syms, wc FROM (
    SELECT word, count(*) AS wc FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM {table}
    ) WHERE word != '' GROUP BY word
  )
)"""
    ]
    for j in range(1, n_merges + 1):
        prev = f"words{j - 1}"
        parts.append(
            f"""pc{j} AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(wc) AS BIGINT) AS cnt
  FROM (
    SELECT wc,
           unnest(CASE WHEN len(syms) >= 2
                  THEN list_transform(range(1, len(syms)),
                       i -> {{'a': syms[i], 'b': syms[i + 1]}})
                  ELSE [] END) AS p
    FROM {prev}
  ) GROUP BY p.a, p.b
)"""
        )
        parts.append(
            f"m{j} AS (SELECT a, b, cnt FROM pc{j} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""words{j} AS (
  SELECT word,
         list_reduce(
           list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
                       THEN list_append(acc[1:len(acc) - 1], m.a || m.b)
                       ELSE list_append(acc, x[1]) END) AS syms,
         wc
  FROM {prev} CROSS JOIN m{j} m
)"""
        )
    return parts


def bpe_merges_sql(table: str = "documents", n_merges: int = BPE_MERGE_STEPS) -> str:
    """The same K-iteration merge loop unrolled as CTEs; each iteration's
    argmax pair is a 1-row CTE the next words CTE captures in its fold
    lambda (same list_reduce modify-last shape as _bpe_apply_merge)."""
    parts = _bpe_chain_cte(table, n_merges)
    union = "\nUNION ALL ".join(
        f"SELECT {j} AS step, a, b, cnt FROM m{j}" for j in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(step AS INT) AS step, a, b, cnt FROM ({union}) ORDER BY step"
    )


def bpe_encode_stats(docs: DataFrame, n_merges: int = BPE_MERGE_STEPS) -> DataFrame:
    """(doc_id, n_words, n_symbols, symbols_per_word) — APPLY the learned
    merge table back to the corpus: every word tokenizes under the K
    trained merges and each document reports its whitespace-word count,
    total BPE symbol count, and mean symbols/word (single rounded
    expression). The train→apply→measure loop of tokenizer development.

    Scale shape: merges come from the driver loop (bpe_merges); symbol
    counts are computed ONCE PER DISTINCT WORD (the word table again —
    the corpus is only touched to explode doc→word and to aggregate per
    doc: one token-key join + one doc_id agg; the fold chain never runs
    on the raw corpus)."""
    spark = docs.sparkSession
    merges = [(r["a"], r["b"]) for r in bpe_merges(docs, n_merges).collect()]
    words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    syms = F.split(F.col("word"), "")
    for a, b in merges:
        syms = _bpe_apply_merge(syms, a, b)
    word_stats = (
        words.select("word").distinct().select(
            "word", F.size(syms).alias("_n_sym")
        )
    )
    _ = spark
    return (
        words.join(word_stats, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("_n_sym").cast("bigint").alias("n_symbols"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_symbols",
            F.round(
                F.col("n_symbols").cast("double") / F.col("n_words"), 4
            ).alias("symbols_per_word"),
        )
    )


def bpe_encode_stats_sql(
    table: str = "documents", n_merges: int = BPE_MERGE_STEPS
) -> str:
    parts = _bpe_chain_cte(table, n_merges)
    return (
        "WITH " + ",\n".join(parts)
        + f""",
doc_words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM {table}
  ) WHERE word != ''
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(w.syms)) AS BIGINT) AS n_symbols,
       round(CAST(sum(len(w.syms)) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 4) AS symbols_per_word
FROM doc_words d JOIN words{n_merges} w USING (word)
GROUP BY d.doc_id
"""
    )


# --- CCNet head/middle/tail bucketing over the LM scores ---------------------


def lm_ppl_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, ppl, bucket) — CCNet's quality split (Wenzek et al.
    2020 §4.3): per LANGUAGE, documents sort by LM perplexity and the
    tertiles become head / middle / tail (head = lowest-ppl third, the
    slice usually kept for pretraining).

    Thresholds are the EXACT rank-against-count formulation shared with
    textops.quantiles_by_lang (rank ceil(n/3) and ceil(2n/3) in integer
    arithmetic, ties broken by doc_id — both engines pick the identical
    row); the per-lang threshold table is tiny and broadcast back onto
    the scores. Same scale note as quantiles_by_lang: at 10^12 rows the
    thresholds come from approx_percentile (sketch) — this exact variant
    is its verifier and the oracle gate. Docs with < 2 tokens have no LM
    score and are excluded (lm_bigram_score contract)."""
    from pyspark.sql import Window

    # Null-safe join against non-null ids: the pairs of an inner equi-join,
    # but Catalyst infers no isnotnull(doc_id) on the scores side. That
    # filter would reach only doc_bg's probe branch (the model must count
    # null-id docs), so the two doc_bg subtrees would differ and doc_bg
    # would be computed and shuffled twice.
    s = lm_bigram_score(docs)
    langs = docs.select(F.col("doc_id").alias("_id"), "lang").where(F.col("_id").isNotNull())
    scores = s.join(langs, s.doc_id.eqNullSafe(langs._id)).drop("_id")
    # Single-pass formulation (r8, guide §2.4): the old shape evaluated the
    # whole LM-score subtree TWICE — once under the groupBy(lang) that
    # picked the tertile cuts and once for the final join back (no
    # exchange reuse fired; measured 4.4 s vs 1.7 s for lm_bigram_score
    # alone at the x10 probe). The cuts are window aggregates over the
    # SAME lang partitioning the rank window already establishes, so one
    # exchange serves the rank, the count, and both threshold picks, and
    # the scores subtree is evaluated once. Selection semantics are
    # unchanged: t33/t67 are the ppl at ranks ceil(n/3)/ceil(2n/3)
    # (ties broken by doc_id) and ties AT a cut share its bucket.
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    wl = Window.partitionBy("lang")
    ranked = scores.select(
        "doc_id",
        "lang",
        "ppl",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wl).alias("_n"),
    )

    def pick(q_num: int, q_den: int):
        rank = F.floor((F.lit(q_num) * F.col("_n") + q_den - 1) / q_den)
        return F.max(F.when(F.col("_rn") == rank, F.col("ppl"))).over(wl)

    bucket = (
        F.when(F.col("ppl") <= pick(1, 3), "head")
        .when(F.col("ppl") <= pick(2, 3), "middle")
        .otherwise("tail")
    )
    return ranked.select("doc_id", "lang", "ppl", bucket.alias("bucket"))


def lm_ppl_buckets_sql(table: str = "documents") -> str:
    return f"""
WITH scores AS (
  SELECT s.doc_id, d.lang, s.ppl
  FROM ({lm_bigram_score_sql(table)}) s
  JOIN {table} d USING (doc_id)
),
ranked AS (
  SELECT lang, ppl,
         row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS _rn,
         count(*) OVER (PARTITION BY lang) AS _n
  FROM scores
),
cuts AS (
  SELECT lang,
         max(CASE WHEN _rn = (1 * _n + 2) // 3 THEN ppl END) AS t33,
         max(CASE WHEN _rn = (2 * _n + 2) // 3 THEN ppl END) AS t67
  FROM ranked GROUP BY lang
)
SELECT s.doc_id, s.lang, s.ppl,
       CASE WHEN s.ppl <= c.t33 THEN 'head'
            WHEN s.ppl <= c.t67 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores s JOIN cuts c USING (lang)
"""
