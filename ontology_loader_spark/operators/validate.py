"""KG structural validation — dangling-edge and hierarchy-cycle
detection.

The reference loads whatever the semantic-sql artifact contains and
trusts oaklib's traversal to terminate (``ontology_processor.py:189-199``
recurses per entity); a cyclic ``is_a`` assertion — a classic upstream
ontology bug — would send its per-entity recursive query into the
SQLite recursion limit at load time, and a dangling object silently
produces relations that reference no class document. At 10^12-turn
corpus scale with continuously-ingested ontology snapshots those two
defects must be *detected* before the closure job runs, not discovered
by it. Both validators are exact, deterministic, and oracle-gated.

Scale design:

- ``dangling_edges`` is one broadcast left-anti join of the hierarchy
  edge set against the term dictionary (both ontology-bounded —
  millions of rows, never corpus-sized).
- ``cycle_members`` is two-phase. Phase 1 TRIM iteratively discards
  edges whose object has no outgoing edge or whose subject has no
  incoming edge — a node on a directed cycle always survives (every
  cycle node keeps in- and out-degree within the core), while a
  near-DAG collapses to its tiny cycle-relevant core in O(height)
  cheap semi-joins over the *edge* set, one pinned and counted action
  a round. Phase 2 walks the non-reflexive reachability of the trimmed
  core only, on the closure's shared semi-naive fixpoint
  (``operators/closure.py::_reach``), and reports the nodes that reach
  themselves. The expensive exact phase therefore
  touches |core| ~ |cycles + inter-cycle paths| pairs, not
  |terms| x depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count
from ontology_loader_spark.operators.closure import (
    _reach,
    hierarchy_pairs,
    select_hierarchy_edges,
)
from ontology_loader_spark.partitioning import fits
from ontology_loader_spark.schemas import DEFAULT_PREDICATES


def dangling_edges(
    edges: DataFrame,
    term_dict: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """Hierarchy edges whose object id is not a known term id.

    The id match is exact-string (CURIEs are case-sensitive), so a
    ``FIX:<j>`` object dangles whenever term ``j``'s canonical id took
    a different surface shape — exactly the asserted-but-undefined
    references an ontology QC pass must surface. Term dictionary side
    broadcasts (dictionary-bounded, same posture as root detection).
    """
    known = term_dict.select(F.col("id").alias("object")).distinct()
    return select_hierarchy_edges(edges, predicates).join(
        F.broadcast(known), "object", "left_anti"
    ).select("subject", "predicate", "object")


def _trim_to_cycle_core(hedges: DataFrame, n: int) -> DataFrame:
    """Iteratively drop edges that cannot lie on (or between) cycles:
    an edge is kept only while its object has an outgoing edge and its
    subject has an incoming edge. ``hedges`` is pinned and ``n`` is its
    row count; each round re-pins the core and reads its count from
    that pin, until the count stops falling (each round peels every
    current source and sink, so a dangling path of length L goes in
    about L/2 rounds)."""
    core = hedges
    while n:
        subjects = core.select("subject").distinct()
        objects = core.select(F.col("object").alias("subject")).distinct()
        core, n_next = pin_count(
            core.join(
                F.broadcast(subjects.withColumnRenamed("subject", "object")),
                "object",
                "left_semi",
            ).join(F.broadcast(objects), "subject", "left_semi")
        )
        if n_next == n:
            break
        n = n_next
    return core


def cycle_members(
    edges: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """Exact set of node ids on a directed cycle of the hierarchy
    graph: ``(id)`` rows, one per node with a non-empty path to
    itself.

    Phase 1 trims to the cycle-relevant core; phase 2 walks the core's
    non-reflexive reachability on the shared fixpoint and keeps the
    ``s = o`` pairs. Exactness does not depend on the trim: trimming
    only removes edges that provably lie on no cycle-reaching path.
    The walk's round bound is the distinct hierarchy-edge count plus
    one: a shortest path uses each edge at most once, so only a bug
    can reach it. That count, an upper bound on the core's, also picks
    the walk's edge-join side (``partitioning.py``'s rule).
    """
    hedges, n = hierarchy_pairs(edges, predicates)
    core = _trim_to_cycle_core(hedges, n)
    seed = core.select(F.col("subject").alias("s"), F.col("object").alias("o"))
    reach = _reach(seed, core, n, "cycle_members", fits("cycle_members", n))
    return reach.filter(F.col("s") == F.col("o")).select(F.col("s").alias("id"))
