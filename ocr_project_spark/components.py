"""Connected components over near-duplicate pair lists → dedup clusters.

Pair lists under-delete: with pairs A~B and B~C, dropping "any doc with a
lower-id partner" keeps C whenever C's only partners were themselves
dropped, and misses A..C links entirely when similarity is transitive but
the pair list is not. Training-data dedup therefore collapses the pair
graph into connected components and keeps ONE representative (the min id)
per component — this module is that step for the minhash/simhash families
(the embedding family's keep-list in similarity.py gains the same closure
via :func:`near_dup_keep`).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — O(log²n)
rounds worst-case (2 rounds on the clique-like components LSH actually
emits), each round two groupBy+join passes over the EDGE list only (pair
scale, never corpus scale), expressed entirely as DataFrame min-aggregates
and equi-joins: no ``collect_set`` (a star center with millions of
neighbors would blow an array column), no driver state beyond one
convergence scalar per round. Each round is localCheckpoint-ed to truncate
the logical plan — an iterative loop without truncation grows the Catalyst
plan exponentially. On a production cluster with lossy executors, swap
``localCheckpoint`` for ``checkpoint`` against a reliable checkpoint dir;
the mechanics are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_project_spark.session import release_checkpoint

EDGE_SCHEMA = "src long, dst long"
COMPONENT_SCHEMA = "doc_id long, cluster_id long"


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    # modular sum keeps the content hash ANSI-overflow-safe at any edge count
    h = F.xxhash64("src", "dst") % F.lit(1_000_000_007)
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) edges → for every node u: connect each strictly larger
    neighbor to min(Γ(u) ∪ {u}). Emitted edges are oriented large→small
    by construction (new src = v > u ≥ m = new dst)."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("ms"), F.least("mn", F.col("src")).alias("m"))
    )
    # explicit aliases: mins derives from sym, and a bare self-join on the
    # shared column name can mis-resolve attributes on some input lineages
    return (
        sym.alias("e")
        .join(mins.alias("mi"), F.col("e.src") == F.col("mi.ms"))
        .where(F.col("e.dst") > F.col("e.src"))
        .select(F.col("e.dst").alias("src"), F.col("mi.m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Oriented (large, small) edges → for every large endpoint u: connect
    u and all its smaller neighbors to m = min(N(u)). Output stays oriented
    (every emitted dst is the group min)."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m")).select(
        F.col("src").alias("ms"), "m"
    )
    to_neighbors = (
        oriented.alias("e")
        .join(mins.alias("mi"), F.col("e.src") == F.col("mi.ms"))
        .where(F.col("e.dst") != F.col("mi.m"))
        .select(F.col("e.dst").alias("src"), F.col("mi.m").alias("dst"))
    )
    to_center = mins.select(F.col("ms").alias("src"), F.col("m").alias("dst"))
    return to_neighbors.union(to_center).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Pair list → (doc_id, cluster_id) for every node that appears in a
    pair; cluster_id is the component's minimum node id (the canonical
    deterministic representative). Nodes in no pair simply don't appear —
    :func:`near_dup_clusters` fills in singletons.

    Fixed point: the edge set is monotone under the star operations (dst
    labels only ever decrease), so a stable (count, content-hash) checksum
    — one scalar row per round — is the termination proof. At the fixed
    point the edges form stars (node → component min) exactly.
    """
    spark = pairs.sparkSession
    # Catalyst's constraint propagation mis-rewrites constraints through
    # the star ops' self-referencing unions on some input lineages
    # (UnionBase.rewriteConstraints throws "key not found: <attr>") —
    # disable it for the loop only; constraints are an optimizer hint, not
    # a correctness surface, and the loop's joins carry no pushable
    # filters they would help.
    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_prev = spark.conf.get(cp_key, "true")
    spark.conf.set(cp_key, "false")
    try:
        edges = (
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()  # materialize once: pair generation is expensive
        )
        prev = _edge_checksum(edges)
        if prev[0] == 0:
            release_checkpoint(edges)
            return spark.createDataFrame([], COMPONENT_SCHEMA)
        for _ in range(max_iter):
            nxt = _small_star(_large_star(edges)).localCheckpoint()
            # nxt is self-contained once checkpointed — release the previous
            # round's blocks so a long-lived session doesn't accrue one
            # cached edge set per round (only the FINAL round's blocks stay,
            # and they back the returned DataFrame)
            release_checkpoint(edges)
            edges = nxt
            cur = _edge_checksum(edges)
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        spark.conf.set(cp_key, cp_prev)
    members = edges.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    )
    roots = edges.select(F.col("dst").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return members.union(roots)


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Every document labeled with its near-dup cluster: (doc_id,
    cluster_id), singletons labeled with themselves. The join is corpus ×
    (small) component table on the id key — one shuffle on ids only, no
    payload columns move."""
    comp = connected_components(pairs)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )


def near_dup_keep(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The keep-list a training pipeline consumes: one representative (min
    id) per near-dup component plus every singleton. Transitively correct
    where per-pair dropping is not: A~B, B~C drops BOTH B and C even when
    the (A,C) pair never surfaced. Anti-join on the (small) drop set — the
    corpus never re-shuffles."""
    comp = connected_components(pairs)
    drops = comp.where(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return docs.select(F.col(id_col).alias("doc_id")).join(
        drops, "doc_id", "left_anti"
    )
