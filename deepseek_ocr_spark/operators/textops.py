"""Text-analysis + relational post-processing operators over the driver's
``documents(doc_id, text, lang, source, n_chars)`` table.

Two groups:

1. Relational re-expressions of the reference's dataflow stages (SURVEY.md
   ★ rows) exercised against the DuckDB oracle: EOS filter (O-19/O-33),
   ordered assembly (O-24), ordinals (O-26/O-27), metrics rollup (O-25),
   regex span extraction / cleanup cascades (O-30/O-36), bbox rescale
   (O-32), anti-join resume (O-22 note).
2. Training-data-pipeline text ops: language-ID heuristic, quality scoring,
   token counting, document fingerprinting.

Every op is pure built-in Catalyst expressions (whole-stage codegen, no
Python on the data path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepseek_ocr_spark.config import PAGE_SEP
from deepseek_ocr_spark.operators.digests import md5_int

# --- O-19/O-33: contains-filter + strip ------------------------------------

EOS_MARKER = "spark"  # stand-in marker word present in ~half the driver docs


def eos_filter(docs: DataFrame) -> DataFrame:
    """O-19/O-33: keep docs containing the EOS marker, strip it (the
    SKIP_REPEAT gate + EOS strip as relational ops)."""
    return docs.filter(F.col("text").contains(EOS_MARKER)).select(
        "doc_id", F.replace(F.col("text"), F.lit(EOS_MARKER), F.lit("")).alias("stripped")
    )


EOS_FILTER_SQL = f"""
SELECT doc_id, replace(text, '{EOS_MARKER}', '') AS stripped
FROM documents WHERE contains(text, '{EOS_MARKER}')
"""

# --- O-24: ordered assembly -------------------------------------------------


def ordered_assembly(docs: DataFrame) -> DataFrame:
    """Group docs by source, concatenate texts in doc_id order with the page
    separator appended after every element (pdf.py:296-298 semantics).

    Scale note: the PRODUCTION assembly groups by url (pages of one doc —
    bounded by the doc itself; extract_job does exactly that). This demo
    variant groups by the 20-value source key purely to oracle-check the
    sorted-collect semantics; a 20-group unbounded concat would be wrong
    at corpus scale and is not used there."""
    return docs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda x: F.concat(x["text"], F.lit(PAGE_SEP)),
            ),
            "",
        ).alias("assembled"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORDERED_ASSEMBLY_SQL = """
SELECT source,
       string_agg(text || chr(10) || chr(10) || '<--- Page Split --->' || chr(10),
                  '' ORDER BY doc_id) AS assembled,
       count(*) AS n_docs
FROM documents GROUP BY source
"""

# --- O-26/O-27: ordinals ----------------------------------------------------


def page_ordinals(docs: DataFrame) -> DataFrame:
    """O-26: per-source ordinal (jdx analog) via a rank window."""
    win = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        "doc_id", "source", (F.row_number().over(win) - 1).alias("ord")
    )


PAGE_ORDINALS_SQL = """
SELECT doc_id, source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS ord
FROM documents
"""

# --- O-25: metrics rollup ---------------------------------------------------


def metrics_rollup(docs: DataFrame) -> DataFrame:
    """O-25: per-lang doc/char counts + exact integer-cents-style sums
    (the compression-metrics aggregation shape)."""
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# DuckDB sum(INTEGER) yields HUGEINT (Arrow decimal128) while Spark yields
# bigint; the driver's value hash is dtype-sensitive, so the oracle casts.
METRICS_ROLLUP_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang
"""

def metrics_cube(docs: DataFrame) -> DataFrame:
    """CUBE(lang, size_class) metrics — grouping-sets coverage (SURVEY.md
    §2.5 note). Subtotal rows are marked via GROUPING() — not by coalescing
    NULL keys, which would conflate genuine NULL-valued groups with
    roll-ups."""
    cls = F.when(F.col("doc_id") % 20 < 14, "small").otherwise("bulk").alias("size_class")
    return (
        docs.select("lang", cls, "n_chars")
        .cube("lang", "size_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            # grouping() is only valid inside the cube aggregation itself
            F.grouping("lang").alias("_gl"),
            F.grouping("size_class").alias("_gs"),
        )
        .select(
            F.when(F.col("_gl") == 1, F.lit("ALL")).otherwise(F.col("lang")).alias("lang"),
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("size_class"))
            .alias("size_class"),
            "n_docs",
            "total_chars",
        )
    )


METRICS_CUBE_SQL = """
SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
       CASE WHEN GROUPING(size_class) = 1 THEN 'ALL' ELSE size_class END AS size_class,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang,
         CASE WHEN doc_id % 20 < 14 THEN 'small' ELSE 'bulk' END AS size_class,
         n_chars
  FROM documents
)
GROUP BY CUBE(lang, size_class)
"""


def metrics_rollup_salted(docs: DataFrame, n_salts: int = 8) -> DataFrame:
    """Same result as ``metrics_rollup`` via explicit two-phase salted
    aggregation — the hot-key pattern for skewed groupBy at 10^12-doc scale:
    phase 1 aggregates on (lang, salt) spreading a hot language across
    ``n_salts`` reducers, phase 2 merges the partials. Exact same oracle as
    metrics_rollup (salting must not change results)."""
    salted = docs.withColumn("_salt", F.pmod(F.hash("doc_id"), F.lit(n_salts)))
    partial = salted.groupBy("lang", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_chars").alias("_chars"),
    )
    return partial.groupBy("lang").agg(
        F.sum("_n").alias("n_docs"),
        F.sum("_chars").alias("total_chars"),
        F.round(F.sum("_chars").cast("double") / F.sum("_n"), 4).alias("avg_chars"),
    )


# --- O-30: regex span extraction ---------------------------------------------

SPAN_PATTERN = "(data|spark|table)"


def span_extract(docs: DataFrame) -> DataFrame:
    """O-30: grounding-tag span extraction (<|ref|>/<|det|> grammar) as
    regexp_extract columns."""
    matches = F.regexp_extract_all(F.col("text"), F.lit(SPAN_PATTERN), 1)
    return docs.select(
        "doc_id",
        F.size(matches).alias("n_matches"),
        F.concat_ws("|", matches).alias("matches_joined"),
    )


SPAN_EXTRACT_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{SPAN_PATTERN}', 1)) AS n_matches,
       coalesce(array_to_string(regexp_extract_all(text, '{SPAN_PATTERN}', 1), '|'), '') AS matches_joined
FROM documents
"""

# --- O-36: cleanup cascade ----------------------------------------------------


def cleanup_cascade(docs: DataFrame) -> DataFrame:
    """Chained replace/regexp_replace — the newline-collapse/latex-fix analog."""
    c = F.col("text")
    c = F.replace(c, F.lit("the "), F.lit(""))
    c = F.regexp_replace(c, "(batch )+batch", "batch")
    c = F.regexp_replace(c, "  +", " ")
    return docs.select("doc_id", c.alias("cleaned"))


CLEANUP_CASCADE_SQL = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(replace(text, 'the ', ''), '(batch )+batch', 'batch', 'g'),
         '  +', ' ', 'g') AS cleaned
FROM documents
"""

# --- O-34: formula cleanup (relational two-step regex) -------------------------


def formula_cleanup(docs: DataFrame) -> DataFrame:
    """clean_formula (eval.py:53-68) re-expressed relationally: synthesize a
    formula-bearing string per doc (driver text carries none), then apply the
    two-step cascade — drop ``\\quad (...)`` annotations inside ``\\[...\\]``,
    strip inner whitespace, re-wrap. The kernel version (regex callback)
    lives in kernels/postprocess.py; this is the pure-Catalyst variant."""
    d = F.col("doc_id")
    synth = F.concat(
        F.lit("intro "),
        F.lit("\\[ E = mc^"), (d % 9 + 2).cast("string"),
        F.lit(" \\quad ("), (d % 5).cast("string"), F.lit(") \\]"),
        F.lit(" outro"),
    )
    step1 = F.regexp_replace(synth, r"\\quad\s*\([^)]*\)", "")
    step2 = F.regexp_replace(step1, r"\\\[\s*(.*?)\s*\\\]", r"\\[$1\\]")
    return docs.select("doc_id", step2.alias("cleaned_formula"))


FORMULA_CLEANUP_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           'intro ' || '\[ E = mc^' || CAST(doc_id % 9 + 2 AS VARCHAR)
             || ' \quad (' || CAST(doc_id % 5 AS VARCHAR) || ') \]' || ' outro',
           '\\quad\s*\([^)]*\)', '', 'g'),
         '\\\[\s*(.*?)\s*\\\]', '\\[\1\\]', 'g') AS cleaned_formula
FROM documents
"""

# --- O-35: ordinal image-ref substitution (relational) --------------------------


def image_ref_substitution(docs: DataFrame) -> DataFrame:
    """The ordinal-dependent ``<|ref|>image<|/ref|>…`` → ``![](images/k.jpg)``
    rewrite (image.py:240-241) as a relational plan: synthesize per-doc span
    strings, posexplode, build the positional replacement, refold. The
    kernel does this in a single Python pass; here the ordinal comes from
    the explode position — the O-26 posexplode pattern."""
    d = F.col("doc_id")
    n_spans = (d % 3 + 1).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda k: F.concat(
            F.lit("<|ref|>image<|/ref|><|det|>[["),
            (d % 100).cast("string"), F.lit(","), k.cast("string"),
            F.lit(",900,900]]<|/det|>"),
        ),
    )
    replaced = F.transform(
        spans,
        lambda s, k: F.concat(F.lit("![](images/"), k.cast("string"), F.lit(".jpg)\n")),
    )
    return docs.select(
        "doc_id",
        F.array_join(spans, "|").alias("raw_spans"),
        F.array_join(replaced, "|").alias("substituted"),
    )


IMAGE_REF_SUBSTITUTION_SQL = """
WITH t AS (
  SELECT doc_id, doc_id % 3 + 1 AS n_spans FROM documents
)
SELECT doc_id,
       array_to_string(
         [ '<|ref|>image<|/ref|><|det|>[[' || CAST(doc_id % 100 AS VARCHAR)
             || ',' || CAST(k AS VARCHAR) || ',900,900]]<|/det|>'
           FOR k IN range(0, n_spans) ], '|') AS raw_spans,
       array_to_string(
         [ '![](images/' || CAST(k AS VARCHAR) || '.jpg)' || chr(10)
           FOR k IN range(0, n_spans) ], '|') AS substituted
FROM t
"""

# --- O-32: bbox rescale -------------------------------------------------------


def bbox_rescale(docs: DataFrame) -> DataFrame:
    """Virtual 0-999 grid → pixels with int truncation (image.py:99-103);
    synthetic coords/dims derived deterministically from doc_id."""
    d = F.col("doc_id")
    width = (F.lit(320) + (d * 37) % 2240).alias("width")
    height = (F.lit(320) + (d * 53) % 2240).alias("height")
    x1, y1 = (d * 11) % 1000, (d * 17) % 1000
    x2, y2 = x1 + (d * 3) % (1000 - x1 + 1), y1 + (d * 7) % (1000 - y1 + 1)
    w = F.lit(320) + (d * 37) % 2240
    h = F.lit(320) + (d * 53) % 2240
    return docs.select(
        "doc_id",
        F.floor(x1 * w / 999).cast("bigint").alias("px1"),
        F.floor(y1 * h / 999).cast("bigint").alias("py1"),
        F.floor(x2 * w / 999).cast("bigint").alias("px2"),
        F.floor(y2 * h / 999).cast("bigint").alias("py2"),
    )


BBOX_RESCALE_SQL = """
SELECT doc_id,
       CAST(floor(((doc_id*11) % 1000) * (320 + (doc_id*37) % 2240) / 999) AS BIGINT) AS px1,
       CAST(floor(((doc_id*17) % 1000) * (320 + (doc_id*53) % 2240) / 999) AS BIGINT) AS py1,
       CAST(floor((((doc_id*11) % 1000) + (doc_id*3) % (1000 - ((doc_id*11) % 1000) + 1))
                  * (320 + (doc_id*37) % 2240) / 999) AS BIGINT) AS px2,
       CAST(floor((((doc_id*17) % 1000) + (doc_id*7) % (1000 - ((doc_id*17) % 1000) + 1))
                  * (320 + (doc_id*53) % 2240) / 999) AS BIGINT) AS py2
FROM documents
"""

# --- anti-join resume (O-22 note) ---------------------------------------------


def anti_join_resume(docs: DataFrame) -> DataFrame:
    """O-22/resume shape: left-anti join against the already-done set
    (doc_ids divisible by 3 stand in for the committed urls)."""
    done = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return docs.join(done, "doc_id", "left_anti").select("doc_id", "lang")


ANTI_JOIN_RESUME_SQL = """
SELECT doc_id, lang FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents x WHERE x.doc_id % 3 = 0 AND x.doc_id = d.doc_id)
"""

# --- training-data text ops ----------------------------------------------------

EN_STOPWORDS = ("the", "a", "of", "is", "to", "and")

# the Gopher paper's own stop list (Rae et al. 2021 §A1.1) — distinct from
# the repo heuristic above; gopher_quality_flags must use the published set
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def langid_heuristic(docs: DataFrame) -> DataFrame:
    """Stopword-ratio language-ID heuristic (n-gram-free variant)."""
    toks = F.split(F.col("text"), " ")
    stop = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    ratio = F.round(stop.cast("double") / F.size(toks), 4)
    return docs.select(
        "doc_id",
        ratio.alias("stopword_ratio"),
        (ratio > 0.03).alias("pred_en"),
    )


_SW = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
LANGID_SQL = f"""
SELECT doc_id,
       round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW}))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS stopword_ratio,
       (round(CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW}))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) > 0.03) AS pred_en
FROM documents
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/stopword/mean-word-length quality score (0..1)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    mean_wl = (F.length("text") - (n - 1)).cast("double") / n
    score = (
        F.least(n.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop.cast("double") * 10 / n, F.lit(1.0)) * 0.25
        + F.when((mean_wl >= 3) & (mean_wl <= 8), 0.25).otherwise(0.0)
    )
    return docs.select("doc_id", F.round(score, 4).alias("quality"))


QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc FROM documents
),
s AS (
  SELECT doc_id, len(toks) AS n,
         len(list_filter(toks, x -> x IN ({_SW}))) AS stop,
         CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_wl
  FROM t
)
SELECT doc_id,
       round(least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.5
             + least(CAST(stop AS DOUBLE) * 10 / n, 1.0) * 0.25
             + CASE WHEN mean_wl >= 3 AND mean_wl <= 8 THEN 0.25 ELSE 0.0 END,
             4) AS quality
FROM s
"""


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace + alnum-run token counts (the BPE-ish proxy, relationally)."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).alias(
            "n_alnum_tokens"
        ),
        F.length("text").alias("len_chars"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+', 0)) AS n_alnum_tokens,
       length(text) AS len_chars
FROM documents
"""


def quantiles_approx_quality(
    docs: DataFrame, accuracy: int = 100
) -> DataFrame:
    """(lang, p50_ok, p90_ok, p99_ok) — the SERVING-layer quantile check:
    median/quantiles_by_lang document that ``approx_percentile`` (the
    mergeable sketch) serves 10^12-row queries while the exact ranked pass
    verifies it on samples. This query IS that verification, oracle-style:
    each approx quantile must lie within the sketch's own rank-error
    guarantee (±1/accuracy of the rank), checked against the exact ranked
    values — so sketch QUALITY is driver-tracked, same pattern as
    ann_recall. The oracle pins the guarantee as literal TRUEs: any Spark
    approx value violating its bound hash-mismatches.

    NULL n_chars excluded (same rule as the exact quantiles); NULL lang
    excluded too — the approx/bounds join on lang is null-rejecting in
    Spark while a SQL GROUP BY keeps a NULL group, so the filter is the
    only formulation both engines agree on."""
    eps = 1.0 / accuracy
    base = docs.filter(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
    approx = base.groupBy("lang").agg(
        F.percentile_approx("n_chars", [0.5, 0.9, 0.99], accuracy).alias("ap")
    )
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = base.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n"),
    )

    def bound(q: float, lo: bool):
        # exact value at the rank the sketch is allowed to drift to
        # (clamped to [1, n]); floor for the low bound, ceil for the high
        r = (F.lit(q) + F.lit(-eps if lo else eps)) * F.col("_n")
        r = F.floor(r) if lo else F.ceil(r)
        return F.greatest(F.lit(1), F.least(r, F.col("_n")))

    bounds = ranked.groupBy("lang").agg(
        *[
            f.alias(n)
            for q, ix, nm in [(0.5, 0, "p50"), (0.9, 1, "p90"), (0.99, 2, "p99")]
            for f, n in [
                (F.max(F.when(F.col("_rn") == bound(q, True), F.col("n_chars"))), f"{nm}_lo"),
                (F.max(F.when(F.col("_rn") == bound(q, False), F.col("n_chars"))), f"{nm}_hi"),
            ]
        ]
    )
    j = approx.join(bounds, "lang")
    out = j.select(
        "lang",
        *[
            (
                (F.col("ap")[ix] >= F.col(f"{nm}_lo"))
                & (F.col("ap")[ix] <= F.col(f"{nm}_hi"))
            ).alias(f"{nm}_ok")
            for ix, nm in [(0, "p50"), (1, "p90"), (2, "p99")]
        ],
    )
    return out


def quantiles_approx_quality_sql(table: str = "documents") -> str:
    """The guarantee itself is the oracle: every flag must be TRUE."""
    return f"""
SELECT lang, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM (SELECT DISTINCT lang FROM {table}
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
"""


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """Per-doc booleans for the published Gopher quality rules (Rae et al.
    2021 §A1.1 — the standard webtext filter battery), plus the AND of all
    of them. A doc is KEPT (flag true) when:

    - 50 ≤ word count ≤ 100 000
    - 3 ≤ mean word length ≤ 10
    - symbol-to-word ratio ≤ 0.1 for BOTH '#' and '...'
    - ellipsis-line fraction ≤ 0.3 (lines ending "..." or "…")
    - bullet-line fraction ≤ 0.9 (lines starting "-" or "•")
    - ≥ 80 % of words contain an alphabetic character
    - ≥ 2 of the paper's stop words present
      (the, be, to, of, and, that, have, with)

    Thresholds and the stop list are the PUBLISHED ones ("remove if MORE
    than 30 %/90 %/0.1" → keep at exactly the boundary, hence ≤). The one
    documented deviation: the repo-wide literal ' ' / '\n' tokenization
    without casefolding (cross-engine parity rule). Zero-denominator
    ratios are CASE-guarded to NULL → false on both engines (ANSI Spark
    raises on 0/0; engines disagree on NaN comparisons). NULL text fails
    every rule."""
    toks = F.split(F.col("text"), " ")
    words = F.filter(toks, lambda t: t != F.lit(""))
    n_words = F.size(words)
    lines = F.filter(
        F.split(F.col("text"), "\n"), lambda l: F.trim(l) != F.lit("")
    )
    n_lines = F.size(lines)

    def ratio(num, den):
        # explicit zero-denominator guard → NULL → coalesce(False): ANSI
        # mode (Spark 4 default) RAISES on 0/0, and engines disagree on
        # NaN comparisons — the CASE keeps both on the NULL path
        return F.when(den > 0, num.cast("double") / den)

    def substr_count(needle: str, width: int):
        return (F.length("text") - F.length(F.replace(F.col("text"), F.lit(needle)))) / width

    mean_wl = ratio(
        F.aggregate(words, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)),
        n_words,
    )
    hash_ratio = ratio(substr_count("#", 1), n_words)
    ellipsis_sym_ratio = ratio(substr_count("...", 3), n_words)
    ellipsis_frac = ratio(
        F.size(F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))),
        n_lines,
    )
    bullet_frac = ratio(
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("•"),
            )
        ),
        n_lines,
    )
    alpha_frac = ratio(
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))), n_words
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "symbol_ratio_ok": (hash_ratio <= 0.1) & (ellipsis_sym_ratio <= 0.1),
        "ellipsis_ok": ellipsis_frac <= 0.3,
        "bullet_ok": bullet_frac <= 0.9,
        "alpha_words_ok": alpha_frac >= 0.8,
        "stop_words_ok": n_stop >= 2,
    }
    cols = [
        F.coalesce(expr, F.lit(False)).alias(name) for name, expr in flags.items()
    ]
    out = docs.select("doc_id", *cols)
    passes = None
    for name in flags:
        passes = F.col(name) if passes is None else (passes & F.col(name))
    return out.select("doc_id", *flags.keys(), passes.alias("passes_gopher"))


def gopher_quality_flags_sql(table: str = "documents") -> str:
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    rules = {
        "word_count_ok": "coalesce(nw >= 50 AND nw <= 100000, FALSE)",
        "mean_word_len_ok": "coalesce(mwl >= 3.0 AND mwl <= 10.0, FALSE)",
        "symbol_ratio_ok": "coalesce(hashr <= 0.1 AND ellr <= 0.1, FALSE)",
        "ellipsis_ok": "coalesce(ell <= 0.3, FALSE)",
        "bullet_ok": "coalesce(bul <= 0.9, FALSE)",
        "alpha_words_ok": "coalesce(alpha >= 0.8, FALSE)",
        "stop_words_ok": "coalesce(nstop >= 2, FALSE)",
    }
    flag_cols = ",\n       ".join(f"{expr} AS {name}" for name, expr in rules.items())
    pass_expr = "\n         AND ".join(rules.values())
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t != '') AS words,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS ls
  FROM {table}
),
m AS (
  SELECT doc_id, len(words) AS nw, len(ls) AS nl,
         CASE WHEN len(words) > 0 THEN
           CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
             / len(words) END AS mwl,
         CASE WHEN len(words) > 0 THEN
           CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
             / len(words) END AS hashr,
         CASE WHEN len(words) > 0 THEN
           (CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
             / len(words) END AS ellr,
         CASE WHEN len(ls) > 0 THEN
           CAST(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%' || chr(8230)))
                AS DOUBLE) / len(ls) END AS ell,
         CASE WHEN len(ls) > 0 THEN
           CAST(len(list_filter(ls, l -> trim(l) LIKE '-%'
                                      OR trim(l) LIKE chr(8226) || '%'))
                AS DOUBLE) / len(ls) END AS bul,
         CASE WHEN len(words) > 0 THEN
           CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
                AS DOUBLE) / len(words) END AS alpha,
         len(list_intersect(list_distinct(words), [{stop_list}])) AS nstop
  FROM base
)
SELECT doc_id,
       {flag_cols},
       {pass_expr} AS passes_gopher
FROM m
"""


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 —
    public filter rules every webtext pipeline runs): per doc,
    (n_lines, dup_line_frac, top_bigram_frac).

    - dup_line_frac: 1 − distinct_lines/lines — MAP-SIDE array arithmetic
      (split + array_distinct on the row), zero shuffle.
    - top_bigram_frac: occurrences of the most frequent word bigram over
      total bigrams — explode → (doc_id, bigram) count → per-doc max/sum.
      Deliberately the SHUFFLE formulation, not a per-row
      transform(array_distinct, …) scan: that is O(distinct · n) inside
      one row and dies on a long adversarial document, while the
      aggregation is linear and spill-safe at any document length.
    Docs with <2 tokens have no bigrams → frac 0.0 (left join + coalesce).
    NULL text excluded on both sides. Floats are single round(expr, 4)
    terms (hash-parity rule)."""
    base = docs.filter(F.col("text").isNotNull())
    ls = F.split(F.col("text"), "\n")
    linem = base.select(
        "doc_id",
        F.size(ls).alias("n_lines"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(ls)).cast("double") / F.size(ls),
            4,
        ).alias("dup_line_frac"),
    )
    # literal ' ' split, NO lower(): the repo-wide cross-engine tokenization
    # rule — Java \s+ includes \x0B where DuckDB's RE2 \s does not, and JVM
    # lower('İ') is 'i̇' (two codepoints) vs utf8proc's 'i'; either would
    # silently diverge the bigram sets. Case-sensitive bigrams are a
    # documented deviation from Gopher's casefold (parity wins).
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = base.select("doc_id", F.explode(bigrams).alias("b"))
    cnt = bg.groupBy("doc_id", "b").count()
    top = cnt.groupBy("doc_id").agg(
        F.round(
            F.max("count").cast("double") / F.sum("count").cast("double"), 4
        ).alias("top_bigram_frac")
    )
    return (
        linem.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias(
                "top_bigram_frac"
            ),
        )
    )


REPETITION_SIGNALS_SQL = r"""
WITH base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls
  FROM documents WHERE text IS NOT NULL
),
linem AS (
  SELECT doc_id, len(ls) AS n_lines,
         round(1 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls), 4)
           AS dup_line_frac
  FROM base
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM base
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
  FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
top AS (
  SELECT doc_id,
         round(CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE), 4)
           AS top_bigram_frac
  FROM cnt GROUP BY doc_id
)
SELECT l.doc_id, l.n_lines, l.dup_line_frac,
       coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
FROM linem l LEFT JOIN top t USING (doc_id)
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """md5 over the 8 lexicographically-smallest distinct 3-gram shingles —
    an order-invariant rolling-hash-style document fingerprint.

    ZERO-shuffle formulation: the doc's text is already one row, so the
    top-8 is ``slice(array_sort(array_distinct(_sh)))`` over
    dedup.doc_shingles — a pure projection. Memory is bounded by the
    document itself (the row already holds the text); no explode, no
    distinct shuffle, no window sort.
    (History: v1 used collect_list over an exploded shuffle — unbounded agg
    buffers; v2 a row_number window — bounded but still a shuffle + sort.)"""
    from deepseek_ocr_spark.operators.dedup import doc_shingles

    sh = doc_shingles(docs)
    top8 = F.slice(F.array_sort(F.array_distinct("_sh")), 1, 8)
    return sh.select(
        "doc_id", F.md5(F.array_join(top8, "|")).alias("fingerprint")
    )


def doc_fingerprint_sql() -> str:
    from deepseek_ocr_spark.operators.dedup import shingles_sql

    return f"""
WITH sh AS (SELECT DISTINCT * FROM ({shingles_sql()})),
agg AS (
  SELECT doc_id, list_slice(list_sort(list(shingle)), 1, 8) AS top8
  FROM sh GROUP BY doc_id
)
SELECT doc_id, md5(array_to_string(top8, '|')) AS fingerprint FROM agg
"""


def _doc_bucket():
    """md5(doc_id)'s first 4 hex chars mod 100 — the sampling hash space
    shared by deterministic_sample and stratified_sample."""
    return md5_int(F.col("doc_id").cast("string"), 1, 4) % 100


def deterministic_sample(docs: DataFrame, pct: int = 10) -> DataFrame:
    """Reproducible corpus sampling (training-data splits must be stable
    across reruns/engines): keep docs where md5(doc_id) lands in the first
    ``pct``% of hash space — unlike rand()-based sampling this is exactly
    replayable and oracle-checkable."""
    return docs.filter(_doc_bucket() < pct).select("doc_id", "lang", "source")


DETERMINISTIC_SAMPLE_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)) % 100 < 10
"""


# explicit whitespace class: Java's \s and RE2's \s disagree on \x0B
# (vertical tab), which would silently break Spark↔DuckDB parity
_WS_CLASS = r"[ \t\n\r\f\x0B]+"


def text_normalize(docs: DataFrame) -> DataFrame:
    """Canonical text normalization (dedup/quality prerequisite): lowercase,
    collapse whitespace runs, trim."""
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, _WS_CLASS, " ")
    t = F.trim(t)
    return docs.select("doc_id", t.alias("norm_text"), F.length(t).alias("norm_len"))


TEXT_NORMALIZE_SQL = rf"""
SELECT doc_id,
       trim(regexp_replace(lower(text), '{_WS_CLASS}', ' ', 'g')) AS norm_text,
       length(trim(regexp_replace(lower(text), '{_WS_CLASS}', ' ', 'g'))) AS norm_len
FROM documents
"""


# --- web-pipeline URL ops -------------------------------------------------------


def url_normalize(docs: DataFrame) -> DataFrame:
    """Canonical-url normalization (web-corpus dedup prerequisite): lowercase
    scheme+host, strip fragment and tracking params, drop trailing slash.
    Urls synthesized deterministically from doc_id (driver table has none)."""
    d = F.col("doc_id")
    raw = F.concat(
        F.lit("HTTPS://Site"), (d % 97).cast("string"),
        F.lit(".Example.com/Path/"), d.cast("string"),
        F.lit("/?utm_source=x&id="), (d % 7).cast("string"),
        F.lit("#frag"),
    )
    u = F.regexp_replace(raw, r"#.*$", "")
    u = F.regexp_replace(u, r"(\?|&)utm_[^&]*", "$1")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    # lowercase scheme+host only (up to the first '/')
    head = F.lower(F.regexp_extract(u, r"^([^/]*//[^/]*)", 1))
    tail = F.regexp_replace(u, r"^[^/]*//[^/]*", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"/$", "")
    return docs.select("doc_id", raw.alias("raw_url"), u.alias("norm_url"))


URL_NORMALIZE_SQL = r"""
WITH t AS (
  SELECT doc_id,
         'HTTPS://Site' || CAST(doc_id % 97 AS VARCHAR) || '.Example.com/Path/'
           || CAST(doc_id AS VARCHAR) || '/?utm_source=x&id='
           || CAST(doc_id % 7 AS VARCHAR) || '#frag' AS raw_url
  FROM documents
),
s AS (
  SELECT doc_id, raw_url,
         regexp_replace(
           regexp_replace(
             regexp_replace(regexp_replace(raw_url, '#.*$', ''),
                            '(\?|&)utm_[^&]*', '\1'),
             '\?&', '?'),
           '[?&]$', '') AS u
  FROM t
)
SELECT doc_id, raw_url,
       regexp_replace(
         lower(regexp_extract(u, '^([^/]*//[^/]*)', 1))
           || regexp_replace(u, '^[^/]*//[^/]*', ''),
         '/$', '') AS norm_url
FROM s
"""


def per_domain_cap(docs: DataFrame, cap: int = 10) -> DataFrame:
    """Per-domain document cap (crawl-balance op): keep at most ``cap`` docs
    per source, lowest doc_id first — rank window + filter."""
    win = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= cap)
        .select("doc_id", "source", "rnk")
    )


PER_DOMAIN_CAP_SQL = """
SELECT doc_id, source, rnk FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
  FROM documents
) WHERE rnk <= 10
"""

# --- events table: time-windowed agg (streaming-adjacent relational op) --------


def events_hourly(events: DataFrame) -> DataFrame:
    """Event-time tumbling rollup: per-hour event counts + distinct users
    (the batch analog of streaming/windowed.py)."""
    # NOT date_trunc: Spark's date_trunc coerces TIMESTAMP_NTZ to LTZ and
    # truncates in the SESSION timezone (wrong by :30 under a half-hour-
    # offset zone); make_timestamp_ntz from tz-free field extracts matches
    # DuckDB's naive date_trunc under ANY session zone (verified).
    hour_ntz = F.make_timestamp_ntz(
        F.year("ts"), F.month("ts"), F.dayofmonth("ts"),
        F.hour("ts"), F.lit(0), F.lit(0),
    )
    return events.groupBy(
        hour_ntz.alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def broadcast_dim_join(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Broadcast hash join of the small embeddings side onto documents
    (the O-22 keyed re-join pattern, broadcast because the dim is small)."""
    return docs.join(
        F.broadcast(emb.select(F.col("vec_id").alias("doc_id"), "label")),
        "doc_id",
        "inner",
    ).select("doc_id", "lang", "label", "n_chars")


BROADCAST_DIM_JOIN_SQL = """
SELECT d.doc_id, d.lang, e.label, d.n_chars
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""


# --- exact distributional stats + pivot (relational breadth) -------------------


def median_chars_by_lang(docs: DataFrame) -> DataFrame:
    """Exact LOWER median of n_chars per lang via rank-against-count — the
    deterministic cross-engine formulation (percentile/quantile built-ins
    interpolate differently between engines). Scale note: the window sort
    partitions on the ~5-value lang key — 5 reducers sorting everything is
    NOT a 10^12-row plan; at corpus scale ``approx_percentile`` (sketch,
    map-side mergeable) serves queries and this exact plan verifies it on
    samples.

    NULL n_chars rows are excluded BEFORE ranking (percentile semantics
    ignore NULL measures) — also the only cross-engine-safe choice: Spark
    sorts NULLS FIRST ascending, DuckDB NULLS LAST, so an unfiltered NULL
    would shift every rank differently per engine."""
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.filter(F.col("n_chars").isNotNull()).select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n"),
    )
    return (
        # floor(): `/` is float division in both engines — without it an
        # even-sized group's (n+1)/2 is x.5 and matches no rank
        ranked.filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        .select("lang", F.col("n_chars").alias("median_chars"))
    )


MEDIAN_CHARS_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS _rn,
         count(*) OVER (PARTITION BY lang) AS _n
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT lang, n_chars AS median_chars
FROM ranked WHERE _rn = CAST(floor((_n + 1) / 2) AS BIGINT)
"""


def lang_source_pivot(docs: DataFrame) -> DataFrame:
    """Doc counts pivoted lang × source — `pivot()` compiles to one
    hash aggregation with a CASE-per-column (no extra shuffle vs the plain
    groupBy; pivot values enumerated explicitly so the plan is static and
    no driver-side distinct scan runs)."""
    sources = [f"src{i}" for i in range(20)]
    return (
        docs.groupBy("lang")
        .pivot("source", sources)
        .agg(F.count(F.lit(1)))
        .select(
            "lang",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in sources],
        )
    )


LANG_SOURCE_PIVOT_SQL = "SELECT lang, " + ", ".join(
    f"count(*) FILTER (WHERE source = 'src{i}') AS n_src{i}" for i in range(20)
) + " FROM documents GROUP BY lang"


# --- composite: the end-to-end corpus-cleaning pass ---------------------------


def _quality_col() -> F.Column:
    """The quality_score expression as a reusable column (same math as
    quality_score — composition must not fork the definition)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    mean_wl = (F.length("text") - (n - 1)).cast("double") / n
    return F.round(
        F.least(n.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop.cast("double") * 10 / n, F.lit(1.0)) * 0.25
        + F.when((mean_wl >= 3) & (mean_wl <= 8), 0.25).otherwise(0.0),
        4,
    )


def _stopword_ratio_col() -> F.Column:
    toks = F.split(F.col("text"), " ")
    stop = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    return F.round(stop.cast("double") / F.size(toks), 4)


def corpus_clean(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The realistic training-data cleaning pass, composed end-to-end:
    exact-dedup survivors → language gate → quality gate.

    ONE shuffle total (the dedup window on md5(text)); the language and
    quality gates are pure column expressions evaluated in the same stage —
    composition does not multiply shuffles. At corpus scale the window
    would become the groupBy-survivor semi-join only if survivor policy
    needed more than first-by-id."""
    win = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    survivors = docs.withColumn("_rk", F.row_number().over(win)).filter(
        F.col("_rk") == 1
    )
    return (
        survivors.select(
            "doc_id", "lang", "source", "n_chars",
            _stopword_ratio_col().alias("stopword_ratio"),
            _quality_col().alias("quality"),
        )
        .filter((F.col("stopword_ratio") > 0.03) & (F.col("quality") >= min_quality))
        .select("doc_id", "lang", "source", "n_chars", "quality")
    )


def corpus_clean_sql(min_quality: float = 0.5) -> str:
    return f"""
WITH survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS _rk
    FROM documents
  ) WHERE _rk = 1
),
t AS (
  SELECT doc_id, lang, source, n_chars, text,
         string_split(text, ' ') AS toks, length(text) AS nc
  FROM survivors
),
s AS (
  SELECT doc_id, lang, source, n_chars, len(toks) AS n,
         len(list_filter(toks, x -> x IN ({_SW}))) AS stop,
         CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_wl
  FROM t
),
scored AS (
  SELECT doc_id, lang, source, n_chars,
         round(CAST(stop AS DOUBLE) / n, 4) AS stopword_ratio,
         round(least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.5
               + least(CAST(stop AS DOUBLE) * 10 / n, 1.0) * 0.25
               + CASE WHEN mean_wl >= 3 AND mean_wl <= 8 THEN 0.25 ELSE 0.0 END,
               4) AS quality
  FROM s
)
SELECT doc_id, lang, source, n_chars, quality
FROM scored WHERE stopword_ratio > 0.03 AND quality >= {min_quality}
"""


def stratified_sample(docs: DataFrame, en_pct: int = 50, other_pct: int = 10) -> DataFrame:
    """Deterministic per-stratum sampling (`sampleBy` analog): language-
    dependent keep rates over the md5 hash space — exactly replayable
    across reruns and engines, unlike rand()-based sampleBy. The standard
    move for rebalancing language mix in a training corpus."""
    rate = F.when(F.col("lang") == "en", en_pct).otherwise(other_pct)
    return docs.filter(_doc_bucket() < rate).select("doc_id", "lang", "source")


def stratified_sample_sql(en_pct: int = 50, other_pct: int = 10) -> str:
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)) % 100
      < CASE WHEN lang = 'en' THEN {en_pct} ELSE {other_pct} END
"""


def quantiles_by_lang(docs: DataFrame) -> DataFrame:
    """(lang, p50/p90/p99 of n_chars) — the exact rank-against-count
    formulation generalized from median_chars_by_lang to a quantile SET in
    ONE ranked pass (percentile_disc semantics: rank ceil(q*n), computed
    with integer arithmetic so both engines pick the identical row).
    Same scale note as the median: exact-on-samples verifier for the
    approx_percentile sketch that serves 10^12-row queries.

    NULL n_chars excluded before ranking — see median_chars_by_lang."""
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.filter(F.col("n_chars").isNotNull()).select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n"),
    )

    def rank_of(q_num: int, q_den: int):
        # ceil(q*n) in exact integer arithmetic
        return F.floor((F.lit(q_num) * F.col("_n") + q_den - 1) / q_den)

    def pick(q_num: int, q_den: int, name: str):
        return F.max(
            F.when(F.col("_rn") == rank_of(q_num, q_den), F.col("n_chars"))
        ).alias(name)

    return ranked.groupBy("lang").agg(
        pick(1, 2, "p50_chars"), pick(9, 10, "p90_chars"), pick(99, 100, "p99_chars")
    )


QUANTILES_BY_LANG_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS _rn,
         count(*) OVER (PARTITION BY lang) AS _n
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT lang,
       max(CASE WHEN _rn = (1 * _n + 1) // 2 THEN n_chars END) AS p50_chars,
       max(CASE WHEN _rn = (9 * _n + 9) // 10 THEN n_chars END) AS p90_chars,
       max(CASE WHEN _rn = (99 * _n + 99) // 100 THEN n_chars END) AS p99_chars
FROM ranked GROUP BY lang
"""


# --- data-mixing weights: temperature-scaled source sampling -----------------


def mixture_weights(docs: DataFrame, alpha: float = 0.3) -> DataFrame:
    """(source, n_docs, share, weight, upsample) — temperature-scaled
    mixture weights over sources: w_i = n_i^alpha / Σ n_j^alpha (the
    mT5/multilingual-C4 exponential-smoothing rule, Xue et al. 2021 —
    alpha < 1 upweights rare sources); ``upsample`` = w_i / share_i is
    the relative oversampling a loader applies per source.

    Exact-arithmetic discipline: each source's n^alpha is quantized ONCE
    to integer micro-units and summed as BIGINT, so the normalizing sum
    is order-insensitive; the final floats are single rounded
    expressions. One groupBy(source) agg (map-side combinable) + a
    1-row broadcast of the totals — the source table is tiny at any
    corpus scale."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    q = F.round(
        F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
        * F.lit(1000000.0),
        0,
    ).cast("bigint")
    scored = counts.select("source", "n_docs", q.alias("_q"))
    totals = F.broadcast(
        scored.agg(
            F.sum("_q").cast("bigint").alias("_tq"),
            F.sum("n_docs").cast("bigint").alias("_tn"),
        )
    )
    share = F.col("n_docs").cast("double") / F.col("_tn")
    weight = F.col("_q").cast("double") / F.col("_tq")
    return scored.crossJoin(totals).select(
        "source",
        "n_docs",
        F.round(share, 4).alias("share"),
        F.round(weight, 4).alias("weight"),
        F.round(weight / share, 4).alias("upsample"),
    )


def mixture_weights_sql(table: str = "documents", alpha: float = 0.3) -> str:
    return f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM {table} GROUP BY source
),
scored AS (
  SELECT source, n_docs,
         CAST(round(power(CAST(n_docs AS DOUBLE), {alpha}) * 1000000.0)
              AS BIGINT) AS _q
  FROM counts
),
totals AS (
  SELECT CAST(sum(_q) AS BIGINT) AS _tq, CAST(sum(n_docs) AS BIGINT) AS _tn
  FROM scored
)
SELECT source, n_docs,
       round(CAST(n_docs AS DOUBLE) / _tn, 4) AS share,
       round(CAST(_q AS DOUBLE) / _tq, 4) AS weight,
       round((CAST(_q AS DOUBLE) / _tq) / (CAST(n_docs AS DOUBLE) / _tn), 4)
         AS upsample
FROM scored CROSS JOIN totals
"""
