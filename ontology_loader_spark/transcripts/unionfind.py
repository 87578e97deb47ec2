"""T3 — union-find canonicalization via iterative min-label propagation.

Canonicalizes linked mentions: terms co-mentioned within one turn form
an undirected graph; each connected component collapses to its minimum
term id (the canonical entity). The reference has no such operator —
the iterative-self-join skeleton is shared with the ancestor closure
(SURVEY.md §7.1.4).

Algorithm (distributed, driver-loop fixpoint): labels start as each
node's own id; every iteration each node takes the min of its own label
and its neighbors' labels; stop when no label changes. Iterations are
O(component diameter). ``localCheckpoint`` per iteration truncates
lineage. All joins key on node ids (well-spread); the groupBy(min) is
map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count
from ontology_loader_spark.partitioning import fits, state_partitions


def comention_pairs(mentions: DataFrame) -> DataFrame:
    """Distinct directed pairs (u, v), both directions, of terms
    co-mentioned in the same (conv_id, turn_idx)."""
    a = mentions.select("conv_id", "turn_idx", F.col("term_id").alias("u"))
    b = mentions.select("conv_id", "turn_idx", F.col("term_id").alias("v"))
    return (
        a.join(b, ["conv_id", "turn_idx"])
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )


def connected_components_dict_bounded(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Union-find for graphs whose EDGE set is dictionary-bounded: the
    distinct pair set over ontology terms is bounded by the dictionary
    size (≤ millions), not the corpus — Spark does the heavy dedup
    (``pairs`` must already be distinct), the driver runs classic
    path-compressed union-find on the collected pairs, and the label
    map (≤ |pair nodes| rows) broadcasts back against the node set.
    Only PAIRS are ever collected — the node set stays distributed
    (nodes untouched by any pair are their own component via the
    left-join coalesce), so a corpus-scale node set with a bounded dup
    graph is fine here. This removes O(diameter) driver-loop latency
    entirely; use the iterative ``connected_components`` when the pair
    set itself scales with the corpus."""
    spark = nodes.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in ((r["u"], r["v"]) for r in pairs.select("u", "v").collect()):
        ru, rv = find(u), find(v)
        if ru != rv:
            # min-label roots keep parity with the iterative variant
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo

    touched = sorted(set(parent) | {find(x) for x in list(parent)})
    node_type = nodes.schema["node"].dataType.simpleString()
    mapping = spark.createDataFrame(
        [(n, find(n)) for n in touched] or [(None, None)],
        f"node {node_type}, mapped {node_type}",
    )
    if not touched:
        mapping = mapping.filter(F.col("node").isNotNull())
    return nodes.join(F.broadcast(mapping), "node", "left").select(
        "node", F.coalesce("mapped", "node").alias("component")
    )


def connected_components_auto(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Dispatch by MEASURED distinct-pair count instead of caller
    knowledge: the pair set is pinned and counted in one job, and the
    one collect ceiling (``partitioning.BROADCAST_ROWS_MAX``) picks the
    driver-dict variant (bounded graphs — removes O(diameter) driver
    loops) or the distributed iterative variant (corpus-scale graphs —
    never collects). Callers that already know their graph's shape can
    call either variant directly and skip the measurement."""
    pairs, n = pin_count(pairs)
    if fits("connected_components_auto", n, ("driver", "iterative")):
        return connected_components_dict_bounded(nodes, pairs)
    return _label_propagation(nodes, pairs, n)


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iterations: int = 64
) -> DataFrame:
    """Min-label connected components.

    ``nodes``: one column ``node``; ``pairs``: columns ``u, v``
    (symmetric). Returns (node, component).
    """
    edges, n = pin_count(pairs)
    return _label_propagation(nodes, edges, n, max_iterations)


def _label_propagation(
    nodes: DataFrame, edges: DataFrame, n_edges: int, max_iterations: int = 64
) -> DataFrame:
    """:func:`connected_components` over ``n_edges`` pinned ``edges``."""
    # iteration-state width follows the observed graph size: a
    # dictionary-bounded co-mention graph runs a few tasks per round; a
    # corpus-scale dedup graph fans out to the session shuffle width
    # (the use case this variant exists for)
    p = state_partitions(nodes.sparkSession, n_edges)
    edges = edges.coalesce(p)
    labels = nodes.select(
        F.col("node"), F.col("node").alias("component")
    ).coalesce(p).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor = (
            edges.join(labels, edges["u"] == labels["node"], "inner")
            .select(F.col("v").alias("node"), F.col("component"))
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .coalesce(p)
            .localCheckpoint(eager=True)
        )
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .isEmpty()
        )
        labels = new_labels
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    return labels
