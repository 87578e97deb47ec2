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
  cheap semi-joins over the *edge* set. Phase 2 runs the exact
  non-reflexive transitive closure (semi-naive, same discipline as
  ``operators/closure.py``) on the trimmed core only, and reports the
  nodes that reach themselves. The expensive exact phase therefore
  touches |core| ~ |cycles + inter-cycle paths| pairs, not
  |terms| x depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.operators.closure import select_hierarchy_edges
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


def _trim_to_cycle_core(hedges: DataFrame, max_iter: int) -> DataFrame:
    """Iteratively drop edges that cannot lie on (or between) cycles:
    an edge is kept only while its object has an outgoing edge and its
    subject has an incoming edge. Fixpoint reached when the edge count
    stops shrinking."""
    # Round count: each round peels every current source/sink, so a
    # dangling PATH of length L peels from both ends in ~L/2 rounds —
    # bounded by the hierarchy height (tens) in any real ontology. A
    # pathological deeper residue just stops trimming at max_iter and
    # hands a larger (still correct) core to the exact phase: the trim
    # is purely an optimization, never a correctness dependency.
    core = hedges.localCheckpoint(eager=True)
    n = core.count()
    for _ in range(max_iter):
        if n == 0:
            break
        subjects = core.select("subject").distinct()
        objects = core.select(F.col("object").alias("subject")).distinct()
        core = (
            core.join(
                F.broadcast(subjects.withColumnRenamed("subject", "object")),
                "object",
                "left_semi",
            )
            .join(F.broadcast(objects), "subject", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_next = core.count()
        if n_next == n:
            break
        n = n_next
    return core


def cycle_members(
    edges: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    max_iter: int = 64,
) -> DataFrame:
    """Exact set of node ids on a directed cycle of the hierarchy
    graph: ``(id)`` rows, one per node with a non-empty path to
    itself.

    Phase 1 trims to the cycle-relevant core; phase 2 computes the
    non-reflexive closure of the core semi-naively (frontier join +
    anti-join against reached, ``localCheckpoint`` per round — the
    closure module's discipline) and keeps ``s = o`` pairs. Exactness
    does not depend on the trim: trimming only removes edges that
    provably lie on no cycle-reaching path. Raises ``RuntimeError``
    when ``max_iter`` rounds end with pairs still growing (an n-node
    cycle needs n + 1), never returning a partial set.
    """
    core = _trim_to_cycle_core(
        select_hierarchy_edges(edges, predicates)
        .select("subject", "object")
        .distinct(),
        max_iter,
    )
    reached = core.select(
        F.col("subject").alias("s"), F.col("object").alias("o")
    ).localCheckpoint(eager=True)
    frontier = reached
    for _ in range(max_iter):
        if frontier.isEmpty():
            break
        step = (
            frontier.join(
                F.broadcast(core), frontier["o"] == core["subject"], "inner"
            )
            .select(frontier["s"], core["object"].alias("o"))
            .distinct()
        )
        frontier = step.join(
            reached, ["s", "o"], "left_anti"
        ).localCheckpoint(eager=True)
        reached = reached.unionByName(frontier).localCheckpoint(eager=True)
    else:
        raise RuntimeError(f"cycle_members did not converge in {max_iter} iterations")
    return (
        reached.filter(F.col("s") == F.col("o"))
        .select(F.col("s").alias("id"))
        .distinct()
    )
