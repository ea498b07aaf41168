"""Training-data ops (operators/traindata.py): crafted-input parity vs
DuckDB plus semantic invariants the sf-corpus parity gate can't exercise
(the driver documents rarely contain PII or shared 3-grams)."""

import duckdb
import pytest

from deepseek_ocr_spark.operators import traindata
from tests.test_entry_queries import _value_hash

ROWS = [
    (0, "benchmark shared secret trigram plus filler words here", "en", "s0", 50),
    (1, "contact bob@example.com or ops@sub.domain.org today", "en", "s1", 48),
    (2, "server at 10.0.0.1 and 192.168.255.3 responded", "en", "s0", 45),
    (3, "call +15551234567 or +442071234567 now", "en", "s1", 38),
    (4, "the shared secret trigram appears here too", "en", "s0", 42),
    (5, "completely unrelated clean text content", "de", "s1", 39),
    (6, "a b", "en", "s0", 3),  # < 3 tokens: no grams
    (7, None, "en", "s0", 0),  # null text
    (8, "bob@example.com", "en", "s1", 15),  # pure-PII doc
    (23, "another benchmark document entirely different words", "en", "s0", 50),
]


@pytest.fixture(scope="module")
def td_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("traindata")
    spark.createDataFrame(
        ROWS, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def td_duck(td_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{td_dir}/documents.parquet/*.parquet'"
    )
    return con


def _docs(spark, d):
    return spark.read.parquet(f"{d}/documents.parquet")


@pytest.mark.parametrize(
    "fn,sql",
    [
        (traindata.pii_scrub, traindata.pii_scrub_sql()),
        (traindata.contamination_flags, traindata.contamination_flags_sql()),
        (traindata.seq_pack, traindata.seq_pack_sql()),
        (
            lambda docs: traindata.dsir_topk(docs, k=8, n_buckets=64),
            traindata.dsir_topk_sql(k=8, n_buckets=64),
        ),
    ],
    ids=["pii_scrub", "contamination_3gram", "seq_pack", "dsir_select"],
)
def test_crafted_corpus_matches_oracle(fn, sql, spark, td_dir, td_duck):
    qdf = fn(_docs(spark, td_dir))
    spark_rows = [tuple(r) for r in qdf.collect()]
    res = td_duck.sql(sql)
    duck_rows = res.fetchall()
    assert len(spark_rows) == len(duck_rows)
    assert _value_hash(spark_rows, qdf.columns) == _value_hash(duck_rows, res.columns)


def test_pii_scrub_semantics(spark, td_dir):
    out = {r["doc_id"]: r for r in traindata.pii_scrub(_docs(spark, td_dir)).collect()}
    assert out[1]["n_emails"] == 2 and "<EMAIL>" in out[1]["clean_text"]
    assert "bob@example.com" not in out[1]["clean_text"]
    assert out[2]["n_ips"] == 2 and out[2]["clean_text"].count("<IP>") == 2
    assert out[3]["n_phones"] == 2 and "<PHONE>" in out[3]["clean_text"]
    assert out[8]["clean_text"] == "<EMAIL>"
    assert out[7]["clean_text"] is None and out[7]["n_emails"] is None
    assert out[5]["clean_text"] == "completely unrelated clean text content"


def test_contamination_semantics(spark, td_dir):
    out = {
        r["doc_id"]: r
        for r in traindata.contamination_flags(_docs(spark, td_dir)).collect()
    }
    # benchmark docs (0, 23) are excluded from the output
    assert 0 not in out and 23 not in out
    # doc 4 shares "shared secret trigram" with benchmark doc 0
    assert out[4]["contaminated"] and out[4]["n_hits"] >= 1
    for clean in (1, 2, 3, 5, 6, 7):
        assert not out[clean]["contaminated"], clean
        assert out[clean]["n_hits"] == 0


def test_seq_pack_invariants(spark):
    # 40 docs across 4 shards; bins must respect capacity except for docs
    # that alone exceed it
    rows = [(i, "tok " * (5 + (i * 7) % 60), "en", "s", 1) for i in range(40)]
    rows.append((99, "big " * 500, "en", "s", 1))  # oversize doc
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = traindata.seq_pack(docs, max_tokens=64, n_shards=4).collect()
    assert len(out) == 41
    by_bin = {}
    for r in out:
        assert r["shard"] == r["doc_id"] % 4
        by_bin.setdefault((r["shard"], r["bin_ix"]), []).append(r)
    for (shard, bin_ix), members in by_bin.items():
        total = sum(r["n_tokens"] for r in members)
        if all(r["n_tokens"] <= 64 for r in members):
            # sorted-fill guarantee: a bin only overflows by less than one
            # doc (the doc that crossed the boundary belongs to this bin)
            assert total < 64 + max(r["n_tokens"] for r in members)


def test_seq_pack_large_p_utilization(spark):
    """The registered P (PACK_SHARDS=64) must keep bin utilization tight
    at P≫8: cumsum binning wastes strictly less than one bin per shard
    (n_bins ≤ floor(shard_total/cap) + 1), and bin indices are contiguous
    from 0 (token counts ≤ cap ⇒ floor jumps by at most 1)."""
    assert traindata.PACK_SHARDS >= 64
    rows = [(i, "tok " * (5 + (i * 7) % 60), "en", "s", 1) for i in range(2000)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = traindata.seq_pack(docs, max_tokens=64, n_shards=64).collect()
    assert len(out) == 2000
    by_shard = {}
    for r in out:
        assert r["shard"] == r["doc_id"] % 64
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, members in by_shard.items():
        total = sum(r["n_tokens"] for r in members)
        bins = {r["bin_ix"] for r in members}
        assert bins == set(range(len(bins))), shard  # contiguous from 0
        assert len(bins) <= total // 64 + 1, (shard, total, len(bins))


def test_seq_pack_default_p_scales_with_session(spark):
    """n_shards=None derives P from spark.sql.shuffle.partitions (floored
    at PACK_SHARDS) — the deployable default is scale-aware, never a
    handful of giant sort partitions."""
    rows = [(i, "a b c", "en", "s", 1) for i in range(300)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    conf_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    expect_p = max(traindata.PACK_SHARDS, conf_p)
    shards = {r["shard"] for r in traindata.seq_pack(docs).collect()}
    assert shards == {i % expect_p for i in range(300)}


def test_contamination_plan_broadcasts_benchmark(spark, td_dir):
    plan = (
        traindata.contamination_flags(_docs(spark, td_dir))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


_DSIR_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _dsir_corpus(spark):
    rows = [(i, "alpha beta gamma delta", "en", "s", 22) for i in range(10)]
    rows += [(i, "zeta eta theta iota", "de", "s", 19) for i in range(10, 20)]
    rows.append((100, "alpha beta gamma delta", "de", "s", 22))  # target-like
    rows.append((101, "zeta eta theta iota", "de", "s", 19))  # raw-like
    rows.append((102, None, "en", "s", 0))  # null text: excluded
    rows.append((103, "", "en", "s", 0))  # zero tokens: no features
    return spark.createDataFrame(rows, _DSIR_SCHEMA)


def test_dsir_semantics(spark):
    """DSIR (Xie et al. 2023): a non-target doc whose hashed-n-gram
    profile matches the target distribution outscores one that matches
    only the raw distribution; identical text ⇒ identical score
    (lang does not enter the per-doc features, only the fit)."""
    docs = _dsir_corpus(spark)
    out = {r["doc_id"]: r for r in traindata.dsir_scores(docs, n_buckets=32).collect()}
    assert out[100]["dsir_score"] > out[101]["dsir_score"]
    assert out[100]["dsir_score"] == out[0]["dsir_score"]
    assert out[101]["dsir_score"] == out[10]["dsir_score"]
    # featureless docs are excluded, not scored 0
    assert 102 not in out and 103 not in out
    # n_feats = unigrams + bigrams = 2*len - 1
    assert out[0]["n_feats"] == 7 and out[10]["n_feats"] == 7


def test_dsir_topk_selection_and_ties(spark):
    """Top-k keeps every target-profile doc (the 10 en + the en-like de
    doc) before any raw-profile doc; within a score tie the doc_id
    tiebreak is ascending — deterministic in both engines because the
    sort key is derived from the exact integer micro-nat sum."""
    docs = _dsir_corpus(spark)
    picked = traindata.dsir_topk(docs, k=11, n_buckets=32).collect()
    ids = [r["doc_id"] for r in picked]
    assert set(ids) == set(range(10)) | {100}
    # tie group (identical text) must come out doc_id-ascending
    assert ids == sorted(ids, key=lambda i: (0 if i < 10 or i == 100 else 1, i))


def test_dsir_topk_plan_is_take_ordered(spark):
    """The selection compiles to TakeOrderedAndProject (O(k) per
    partition + k-row driver merge), never a global Sort: the 100 TB
    claim in the docstring is a plan property, not a hope."""
    plan = (
        traindata.dsir_topk(_dsir_corpus(spark), k=5, n_buckets=32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_dsir_scoring_against_fit_reads_no_lang(spark):
    """dsir_scores(fit=) reads only doc_id and text: the sf0.001 docs with
    lang dropped score to the same rows as with it."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fit = traindata.dsir_fit(docs, n_buckets=64)
    a = traindata.dsir_scores(docs, n_buckets=64, fit=fit).orderBy("doc_id").collect()
    b = (
        traindata.dsir_scores(docs.drop("lang"), n_buckets=64, fit=fit)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b and len(a) > 0


def test_contamination_against_artifact_ignores_duplicate_rows(spark, td_dir):
    """Scoring against a given benchmark gram table: every doc is scored,
    and a table holding each gram twice gives the same n_hits (the hit
    test is a left-semi probe)."""
    docs = _docs(spark, td_dir)
    grams = traindata.benchmark_gram_table(docs)
    assert grams.count() > 0

    def flags(bench):
        return {
            (r["doc_id"], r["n_hits"], r["contaminated"])
            for r in traindata.contamination_flags(docs, bench_grams=bench).collect()
        }

    once = flags(grams)
    assert flags(grams.unionAll(grams)) == once
    assert {d for d, _, _ in once} == {r[0] for r in ROWS}
    # the held-out rows hit their own grams; the batch op excludes them
    assert {(d, n, c) for d, n, c in once if d % traindata.BENCH_MOD != 0} == {
        (r["doc_id"], r["n_hits"], r["contaminated"])
        for r in traindata.contamination_flags(docs).collect()
    }
