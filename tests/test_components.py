"""Connected-components / cluster keep-list tests: the transitive-closure
semantics pair-level dropping cannot provide."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_project_spark.components import (
    connected_components,
    near_dup_clusters,
    near_dup_keep,
)
from tests.conftest import persistent_rdd_ids


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _comp_map(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_chain_collapses_to_one_component(spark):
    # 0-1-2-...-9: worst case for min-label propagation (max diameter)
    comp = _comp_map(
        connected_components(_pairs(spark, [(i, i + 1) for i in range(9)]))
    )
    assert comp == {i: 0 for i in range(10)}


def test_vee_differs_from_naive_pair_dropping(spark):
    """ids 1,2 both similar to 3, not to each other: components drop {2,3}
    (one representative per cluster); the naive drop-every-id_b rule would
    keep 2 — the under-deletion the closure exists to fix."""
    docs = spark.range(1, 5).select(F.col("id").alias("doc_id"))
    pairs = _pairs(spark, [(1, 3), (2, 3)])
    kept = {r["doc_id"] for r in near_dup_keep(docs, pairs).collect()}
    assert kept == {1, 4}
    naive_kept = {1, 2, 4}  # what per-pair id_b dropping would keep
    assert kept != naive_kept


def test_multiple_components_and_singletons(spark):
    docs = spark.range(20).select(F.col("id").alias("doc_id"))
    pairs = _pairs(spark, [(0, 5), (5, 9), (10, 11), (17, 3)])
    clusters = _comp_map(near_dup_clusters(docs, pairs))
    assert clusters[0] == clusters[5] == clusters[9] == 0
    assert clusters[10] == clusters[11] == 10
    assert clusters[17] == clusters[3] == 3
    for singleton in set(range(20)) - {0, 5, 9, 10, 11, 3, 17}:
        assert clusters[singleton] == singleton
    kept = {r["doc_id"] for r in near_dup_keep(docs, pairs).collect()}
    assert kept == set(range(20)) - {5, 9, 11, 17}


def test_duplicate_and_reversed_pairs_are_harmless(spark):
    comp = _comp_map(
        connected_components(_pairs(spark, [(1, 2), (1, 2), (2, 7), (3, 7)]))
    )
    assert comp == {1: 1, 2: 1, 7: 1, 3: 1}


def test_empty_pairs(spark):
    docs = spark.range(3).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert _comp_map(near_dup_clusters(docs, empty)) == {0: 0, 1: 1, 2: 2}
    assert near_dup_keep(docs, empty).count() == 3


def test_two_cliques_bridged(spark):
    # two 4-cliques joined by one bridge edge → single component
    clique = lambda lo: [(a, b) for a in range(lo, lo + 4) for b in range(a + 1, lo + 4)]  # noqa: E731
    pairs = _pairs(spark, clique(0) + clique(100) + [(3, 100)])
    comp = _comp_map(connected_components(pairs))
    assert set(comp.values()) == {0}
    assert len(comp) == 8


def test_minhash_dedup_keep_transitive_chain(spark):
    """End-to-end over real text: base ~ mid, mid ~ tail, base !~ tail
    (edit distance accumulates) — the keep-list must still drop both mid
    and tail."""
    from ocr_project_spark.dedup import minhash_dedup_keep, minhash_near_dup_pairs

    # 50 words → 48 shingles: jac(1,2)=45/51≈0.88, jac(2,3)=43/53≈0.81,
    # jac(1,3)=42/54≈0.78 — a genuine chain across the 0.8 threshold
    words = [f"tok{i}" for i in range(50)]

    def edit(k):  # replace the first k words
        return " ".join([f"zz{j}" for j in range(k)] + words[k:])

    rows = [
        (1, " ".join(words), "en"),
        (2, edit(3), "en"),
        (3, edit(6), "en"),
        (50, " ".join(f"far{i}" for i in range(50)), "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(df, threshold=0.8).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    kept = {r["doc_id"] for r in minhash_dedup_keep(df).collect()}
    assert kept == {1, 50}


def test_nonconvergence_guard(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs(spark, [(i, i + 1) for i in range(40)]), max_iter=1)


def test_only_final_round_blocks_stay(spark):
    """Each round's checkpoint is released once the next one exists: after
    a multi-round chain only the final round's blocks (the ones backing
    the returned frame) are still persisted."""
    before = persistent_rdd_ids(spark)
    comp = connected_components(_pairs(spark, [(i, i + 1) for i in range(9)]))
    assert len(persistent_rdd_ids(spark) - before) == 1
    assert _comp_map(comp) == {i: 0 for i in range(10)}


def test_constraint_propagation_conf_restored(spark):
    """connected_components disables constraint propagation for its loop
    only — the session conf must come back exactly as it was."""
    key = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(key, "true")
    connected_components(_pairs(spark, [(1, 2), (2, 3)])).collect()
    assert spark.conf.get(key, "true") == before
    # and on the empty-input early return too
    connected_components(
        spark.createDataFrame([], "id_a long, id_b long")
    ).collect()
    assert spark.conf.get(key, "true") == before


def _oracle(edges):
    """Pure-Python union-find: every node of a non-self pair → its
    component's minimum id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_graph(seed, n_nodes=40, n_edges=30):
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1, 10_000), n_nodes)
    return [tuple(rng.sample(ids, 2)) for _ in range(n_edges)]


def _shapes():
    """Disjoint shapes in one graph, each in its own id range: pairs, a
    path, a clique, a star whose center is not the minimum, duplicate and
    reversed pairs, and a self pair."""
    pairs = [(1, 2), (4, 3), (6, 5)]
    path = [(100 + i, 101 + i) for i in range(7)]
    clique = [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    star = [(350, leaf) for leaf in (310, 320, 360, 370)]
    dups = [(400, 401), (401, 400), (400, 401), (402, 401)]
    return pairs + path + clique + star + dups + [(500, 500)]


@pytest.mark.parametrize(
    "edges",
    [
        [],
        [(1, 2), (3, 4), (5, 6), (8, 7)],
        _shapes(),
        _random_graph(1),
        _random_graph(2, n_edges=45),
        _random_graph(3, n_nodes=12, n_edges=20),
    ],
    ids=["empty", "pairs", "shapes", "random1", "random2", "random3"],
)
def test_components_match_union_find(spark, edges):
    assert _comp_map(connected_components(_pairs(spark, edges))) == _oracle(edges)


def _count_rounds(monkeypatch):
    from ocr_project_spark import components

    rounds = []
    small_star = components._small_star

    def counted(edges):
        rounds.append(1)
        return small_star(edges)

    monkeypatch.setattr(components, "_small_star", counted)
    return rounds


def test_pairs_only_input_runs_no_round(spark, monkeypatch):
    """Disjoint pairs already are a star forest once oriented (large,
    small): the loop stops before its first round."""
    rounds = _count_rounds(monkeypatch)
    edges = [(1, 2), (4, 3), (5, 6), (5, 6)]
    assert _comp_map(connected_components(_pairs(spark, edges))) == _oracle(edges)
    assert rounds == []


def test_path_converges_in_a_few_rounds(spark, monkeypatch):
    rounds = _count_rounds(monkeypatch)
    edges = [(i, i + 1) for i in range(9)]
    assert _comp_map(connected_components(_pairs(spark, edges))) == _oracle(edges)
    assert 0 < len(rounds) < 25
