"""Trained IVF codebook (similarity.kmeans_codebook): Lloyd's semantics on
a hand-built clustered corpus, empty-cluster handling, determinism, the
recall criterion vs the literal codebook, and the batched all-vectors ANN
(ann_ivf_topk_all) against a brute-force transcription."""

import math
import operator

import numpy as np
import pandas as pd
import pytest

from deepseek_ocr_spark.operators import similarity as S


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")


CLUSTERED = [
    # three tight clusters around the axes; vec 0/1/2 are the seeds
    (0, [1.0, 0.1, 0.0, 0.0]),
    (1, [0.1, 1.0, 0.0, 0.0]),
    (2, [0.0, 0.1, 1.0, 0.0]),
    (3, [0.9, 0.0, 0.1, 0.0]),
    (4, [1.1, 0.2, 0.0, 0.1]),
    (5, [0.0, 0.9, 0.1, 0.0]),
    (6, [0.2, 1.1, 0.0, 0.1]),
    (7, [0.1, 0.0, 0.9, 0.1]),
    (8, [0.0, 0.2, 1.1, 0.0]),
]


def test_kmeans_recovers_clusters(spark):
    emb = _emb_df(spark, CLUSTERED)
    codebook = S.kmeans_codebook(emb, n_centroids=3, n_iter=2, dim=4)
    assert [cid for cid, _ in codebook] == [0, 1, 2]
    # each trained centroid points at its cluster's dominant axis
    for cid, vec in codebook:
        assert max(range(4), key=lambda i: vec[i]) == cid
    # assignments under the trained codebook are the planted clusters
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in S.ivf_assignments(emb, 3, 4, codebook=codebook).collect()
    }
    assert assign == {0: 0, 3: 0, 4: 0, 1: 1, 5: 1, 6: 1, 2: 2, 7: 2, 8: 2}


def test_kmeans_centroid_is_quantized_mean(spark):
    """Recentred components are exactly sum(round(v*1e6))/n/1e6 — the
    integer-micro-unit mean, computed here by hand from the planted
    cluster membership."""
    emb = _emb_df(spark, CLUSTERED)
    codebook = dict(S.kmeans_codebook(emb, n_centroids=3, n_iter=1, dim=4))
    members = {0: [0, 3, 4], 1: [1, 5, 6], 2: [2, 7, 8]}
    vecs = dict(CLUSTERED)
    for cid, ids in members.items():
        for i in range(4):
            # float32 storage: round over the float32-exact double value
            s = sum(
                round(float(_f32(vecs[v][i])) * 1e6) for v in ids
            )
            expect = s / len(ids) / 1e6
            assert codebook[cid][i] == expect


def _f32(x: float) -> float:
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # vec 2 duplicates vec 1 → seed 2's cluster empties (ties go to the
    # lowest centroid id); its centroid must stay at the init vector
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.1]),
    ]
    emb = _emb_df(spark, rows)
    codebook = S.kmeans_codebook(emb, n_centroids=3, n_iter=2, dim=2)
    assert dict(codebook)[2] == [0.0, 1.0]  # untouched init
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in S.ivf_assignments(emb, 3, 2, codebook=codebook).collect()
    }
    assert 2 not in set(assign.values())


def test_kmeans_deterministic_across_runs(spark):
    emb = _emb_df(spark, CLUSTERED).repartition(4)
    a = S.kmeans_codebook(emb, n_centroids=3, n_iter=3, dim=4)
    b = S.kmeans_codebook(emb, n_centroids=3, n_iter=3, dim=4)
    assert a == b  # exact float equality — integer-micro-unit means


def test_trained_beats_literal_codebook_recall(spark):
    """The round-7 acceptance bar: recall@10 of the trained index >= the
    literal-codebook index on the driver embeddings table."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r["method"]: r["recall"] for r in S.ann_recall(emb).collect()}
    assert rows["ivf_trained"] >= rows["ivf"]


def test_ann_ivf_topk_all_matches_bruteforce_within_probes(spark):
    """k=1 agg lane and k=2 window lane agree with a brute-force Python
    transcription of 'best cosine within my n_probe buckets'."""
    emb = _emb_df(spark, CLUSTERED)
    vecs = {i: [float(_f32(x)) for x in v] for i, v in CLUSTERED}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4)

    n_centroids, n_probe = 3, 2
    codebook = S._centroids(n_centroids, 4)

    def ccos(v, c):
        d = sum(x * y for x, y in zip(v, c))
        nv = math.sqrt(sum(x * x for x in v))
        nc = math.sqrt(sum(x * x for x in c))
        return round(d / (nv * nc), 6)

    assign = {
        i: min(codebook, key=lambda c: (-ccos(v, c[1]), c[0]))[0]
        for i, v in vecs.items()
    }
    probes = {
        i: [c for c, _ in sorted(codebook, key=lambda c: (-ccos(v, c[1]), c[0]))][:n_probe]
        for i, v in vecs.items()
    }
    expected = {}
    for i, v in vecs.items():
        cands = [
            (j, cos(v, vecs[j]))
            for j in vecs
            if j != i and assign[j] in probes[i]
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        expected[i] = cands
    got1 = {
        r["vec_id"]: (r["nn_vec_id"], r["cos"])
        for r in S.ann_ivf_topk_all(emb, k=1, n_centroids=3, dim=4).collect()
    }
    assert got1 == {i: c[0] for i, c in expected.items() if c}
    got2 = {}
    for r in S.ann_ivf_topk_all(emb, k=2, n_centroids=3, dim=4).collect():
        got2.setdefault(r["vec_id"], []).append((r["nn_vec_id"], r["cos"]))
    assert got2 == {i: c[:2] for i, c in expected.items() if c}
    # id columns keep the input's vec_id type (INT here) on every pair lane
    int_t = emb.schema["vec_id"].dataType
    for df, cols in [
        (S.ann_ivf_topk_all(emb, k=1, n_centroids=3, dim=4), ["vec_id", "nn_vec_id"]),
        (S.ann_ivf_topk_all(emb, k=2, n_centroids=3, dim=4), ["vec_id", "nn_vec_id"]),
        (S.semantic_pairs(emb, n_centroids=3, dim=4), ["a_vec_id", "b_vec_id"]),
    ]:
        assert [df.schema[c].dataType for c in cols] == [int_t, int_t]


def test_ann_ivf_topk_all_no_cartesian(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = S.ann_ivf_topk_all(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_semantic_planted_clusters(spark):
    """Identical vectors always share a bucket (assignment is a pure
    function of the embedding), so planted duplicate groups collapse to
    their lowest-id representative; transitive chains merge."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # dup of 0
        (5, [1.0, 0.0, 0.0, 0.0]),   # dup of 0 (transitive via 1)
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.99, 0.1, 0.0]),  # near-dup of 2 (cos ~0.995)
        (4, [0.0, 0.0, 0.0, 1.0]),   # unique
    ]
    emb = _emb_df(spark, rows)
    res = S.dedup_semantic(emb, threshold=0.9, n_centroids=3, dim=4)
    out = {r["vec_id"]: (r["rep_vec_id"], r["is_dup"]) for r in res.collect()}
    assert out[0] == (0, False)
    assert out[1] == (0, True)
    assert out[5] == (0, True)
    assert out[2] == (2, False)
    assert out[3] == (2, True)
    assert out[4] == (4, False)
    assert res.schema["rep_vec_id"].dataType.simpleString() == "int"


def test_dedup_semantic_threshold_gates_edges(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.4359]), (2, [0.0, 1.0])]
    emb = _emb_df(spark, rows)
    # cos(0,1) ~ 0.9 — below a 0.99 threshold nothing merges
    strict = S.dedup_semantic(emb, threshold=0.99, n_centroids=2, dim=2)
    assert all(not r["is_dup"] for r in strict.collect())


def test_ann_ivf_topk_all_cogroup_matches_jvm_pairs(spark):
    """r8 focused pin for the Arrow-cogroup scorer internals: on a seeded
    corpus dense with near-ties (many vectors rounding to the same 4-dp
    cosine, exercising the margin pre-filter + Spark-side tie-break), the
    k=1 lane must equal an independent JVM all-pairs formulation
    (bucket join + ordered-fold cosine + round + min-struct) row for row."""
    from pyspark.sql import functions as F

    # deterministic LCG corpus; small spread -> clusters of near-equal cos
    rows = []
    state = 12345
    for vid in range(120):
        vec = []
        for _ in range(8):
            state = (state * 1103515245 + 12345) % (1 << 31)
            vec.append(1.0 + ((state >> 16) % 11) / 1000.0)
        rows.append((vid, vec))
    emb = _emb_df(spark, rows)
    n_centroids, dim = 4, 8

    got = sorted(
        tuple(r)
        for r in S.ann_ivf_topk_all(
            emb, k=1, n_centroids=n_centroids, dim=dim
        ).collect()
    )

    # independent JVM derivation (the r7 shape): inline probes/assignments
    # + bucket equi-join + interpreted fold cosine
    scored = S._scored_against_centroids(emb, n_centroids, dim)
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id")
    )
    probed = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= S.N_PROBE
    )
    probes = probed.select("vec_id", "centroid_id")
    assignments = probed.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("cand_id"),
        F.col("centroid_id").alias("c2"),
    )
    left = probes.join(emb, "vec_id").select(
        "vec_id", "centroid_id", F.col("embedding").alias("qe")
    )
    right = assignments.join(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")),
        "cand_id",
    )
    pairs = left.join(right, F.col("centroid_id") == F.col("c2")).filter(
        F.col("vec_id") != F.col("cand_id")
    )
    cos = F.round(
        S._dot(F.col("qe"), F.col("ce"))
        / (S._norm(F.col("qe")) * S._norm(F.col("ce"))),
        4,
    )
    best = (
        pairs.select("vec_id", "cand_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos")).alias("nc"), F.col("cand_id").alias("cid")
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.cid").alias("nn_vec_id"),
            (-F.col("b.nc")).alias("cos"),
        )
    )
    want = sorted(tuple(r) for r in best.collect())
    assert got == want


def test_pair_scorer_enforces_exact_dim(spark):
    """The exact-dim contract: an embedding whose length is not ``dim``
    raises ValueError naming its vec_id instead of scoring silently."""
    score = S._pair_score_fn(8, k=1, id_pred=operator.ne)
    full, short = np.ones(8, np.float32), np.ones(4, np.float32)
    left = pd.DataFrame({"vec_id": [1, 2], "qe": [full, short]})
    right = pd.DataFrame({"cand_id": [1, 2], "ce": [full, full]})
    with pytest.raises(ValueError, match="vec_id 2: embedding has 4 elements"):
        score(left, right)
    # through Spark: over-long arrays pass the centroid chain (it reads the
    # first ``dim`` elements) and must still be rejected by the pair scorer
    emb = _emb_df(spark, [(i, [1.0 + i] * 8) for i in range(6)])
    with pytest.raises(Exception, match="expected dim=4"):
        S.ann_ivf_topk_all(emb, n_centroids=2, dim=4).collect()


def test_pair_scorer_nan_is_per_cell():
    """A zero vector makes one NaN cell per row (and one all-NaN row); the
    scorer keeps those cells but must not drop its margin filter for
    whole rows — the output stays O(n), not n·(n-1)."""
    n = 400
    vecs = np.random.default_rng(7).standard_normal((n, 8)).astype(np.float32)
    vecs[17] = 0.0
    ids = np.arange(n)
    left = pd.DataFrame({"vec_id": ids, "qe": list(vecs)})
    right = pd.DataFrame({"cand_id": ids, "ce": list(vecs)})
    for k in (1, 2):
        out = S._pair_score_fn(8, k=k, id_pred=operator.ne)(left, right)
        assert len(out) < 5 * n
        nan = out["cos"].isna()
        assert (nan & (out["cand_id"] == 17)).sum() == n - 1  # NaN cells kept
        assert (out["vec_id"] == 17).sum() == n - 1  # zero row kept whole
        assert not (nan & (out["vec_id"] != 17) & (out["cand_id"] != 17)).any()
