"""J1/J2/J3 — direct assertion selection and reflexive transitive
ancestor closure.

Reference semantics (``ontology_processor.py:152-211``):

- Relevant entities = ``adapter.entities()`` (``:168``) passing the F1
  ontology filter. oaklib's ``BasicOntologyInterface.entities`` defaults
  ``filter_obsoletes=True``, so the closure domain **excludes obsolete
  terms** (quirk Q6): obsolete classes get no reflexive closure row and
  no relations, even though they appear in the class set via
  ``adapter.obsoletes()`` (``:141``).
- J1 direct edges (``:174-181``): keep edges whose *subject* is
  relevant AND predicate ∈ {rdfs:subClassOf, BFO:0000050}; the object
  is NOT filtered (quirk Q2).
- J2 closure (``:189-199``): per entity, ``adapter.ancestors(entity,
  reflexive=True, predicates=...)`` — reflexive (quirk Q1), traverses
  the edge graph *through* foreign-ontology intermediates, and filters
  only the emitted ancestor with F1 (``:198-199``, quirk Q2 asymmetry).
- J3 projection (``:202-205``): ``(entity,
  'entailed_isa_partof_closure', ancestor)`` with per-entity set
  dedup (quirk Q4: closure rows unique per subject).

Spark-first design: the reference runs one recursive SQLite traversal
*per entity* (``:197``). Each operator here dispatches on the count
of the hierarchy edges it pins and logs the choice. A
dictionary-bounded hierarchy (at most ``LOCAL_CLOSURE_EDGES_MAX``
edges) is solved in ONE task: a handful of jobs whatever its height.
Above it the pair state stays distributed on :func:`_reach`, the
shared :func:`~ontology_loader_spark.fixpoint.semi_naive_fixpoint`:
one pinned state and one action per round, keyed by the (subject,
object) pair, so no salting is needed. Nothing is collected. The
incremental operators are the closure of their net edge set, on the
same two arms.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count, semi_naive_fixpoint
from ontology_loader_spark.operators.curie import matches_ontology
from ontology_loader_spark.partitioning import fits, join_side, record_decision
from ontology_loader_spark.schemas import (
    CLOSURE_PREDICATE,
    DEFAULT_PREDICATES,
    ONTOLOGY_RELATION_TYPE,
)

# Hierarchy edges up to which a closure is solved in one task
# (_closure_local). DAG k -> k//2 (+ k//3 if k % 4 == 3), pinned, local[4]:
# 75k edges (1.85M pairs) 10.0 s, 148 MB worker peak RSS vs path doubling
# 34.7 s; 200k (5.7M pairs) 15.1 s, 182 MB vs 156 s. Not a crossover: 200k is the
# largest size tried and the task's cost grows with pairs; above, unverified.
LOCAL_CLOSURE_EDGES_MAX = 200_000


def relevant_entities(term_dict: DataFrame, ontology: str) -> DataFrame:
    """Q6 — the closure domain: non-obsolete term ids passing F1.

    ``adapter.entities()`` at ``ontology_processor.py:168`` inherits
    oaklib's ``filter_obsoletes=True`` default, so obsolete terms are
    NOT part of the closure domain (they surface only in the class set
    through ``adapter.obsoletes()``). Both filters are plain Catalyst
    predicates — pushed to the term-dictionary scan."""
    return (
        term_dict.filter(~F.coalesce(F.col("is_obsolete"), F.lit(False)))
        .select("id")
        .filter(matches_ontology(F.col("id"), ontology))
    )


def select_hierarchy_edges(
    edges: DataFrame, predicates: tuple[str, ...] = DEFAULT_PREDICATES
) -> DataFrame:
    """Predicate-filtered edge set — pushed down to the scan."""
    return edges.filter(F.col("predicate").isin(*predicates)).select(
        "subject", "predicate", "object"
    )


def hierarchy_pairs(
    edges: DataFrame, predicates: tuple[str, ...] = DEFAULT_PREDICATES
) -> tuple[DataFrame, int]:
    """The distinct hierarchy ``(subject, object)`` pairs, pinned, and
    their count read from the pin's own job."""
    return pin_count(
        select_hierarchy_edges(edges, predicates).select("subject", "object").distinct()
    )


def direct_relations(
    edges: DataFrame,
    relevant: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """J1 — direct assertions: subject ∈ relevant AND predicate ∈ set,
    object unfiltered (Q2). Broadcast hash semi-join: the relevant-id
    set is the small build side (``ontology_processor.py:174-181``)."""
    return (
        select_hierarchy_edges(edges, predicates)
        .join(
            F.broadcast(relevant.withColumnRenamed("id", "subject")),
            "subject",
            "left_semi",
        )
        .select(
            "subject",
            "predicate",
            "object",
            F.lit(ONTOLOGY_RELATION_TYPE).alias("type"),
        )
    )


def ancestor_closure(
    edges: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """J2+J3 — reflexive transitive closure triples.

    Returns ``(subject, 'entailed_isa_partof_closure', object, type)``
    distinct per (subject, object), reproducing quirks Q1 (reflexive),
    Q2 (only the emitted ancestor is F1-filtered; traversal passes
    through foreign nodes), Q6 (domain excludes obsoletes — oaklib
    ``entities()`` default).

    Equivalent SQL (Spark 4 / DuckDB)::

        WITH RECURSIVE reach(s, o) AS (
            SELECT id, id FROM relevant
            UNION
            SELECT r.s, e.object FROM reach r JOIN hedges e ON r.o = e.subject
        )
        SELECT s, 'entailed_isa_partof_closure', o FROM reach
        WHERE <F1 on o>

    The count of the pinned distinct hierarchy edges picks the solver:
    one task (:func:`_closure_local`) at most ``LOCAL_CLOSURE_EDGES_MAX``,
    else :func:`_reach` from the reflexive seed.
    """
    hedges, n = hierarchy_pairs(edges, predicates)
    return _closure("ancestor_closure", hedges, n, relevant, ontology)


def _closure(
    op_name: str, hedges: DataFrame, n: int, relevant: DataFrame, ontology: str
) -> DataFrame:
    """The closure of ``relevant`` over the pinned ``hedges`` (``n``
    rows), on the arm ``n`` picks."""
    if _local(op_name, n):
        return _closure_local(hedges, relevant, ontology)
    seed = relevant.select(F.col("id").alias("s"), F.col("id").alias("o"))
    return _emit(_reach(seed, hedges, n, op_name, fits(op_name, n)), ontology)


def _local(op_name: str, n: int) -> bool:
    """The measured dispatch, recorded: solve ``n`` edges in one task?"""
    local = n <= LOCAL_CLOSURE_EDGES_MAX
    record_decision(op_name, n, LOCAL_CLOSURE_EDGES_MAX, "local" if local else "distributed")
    return local


def _closure_local(hedges: DataFrame, relevant: DataFrame, ontology: str) -> DataFrame:
    """The closure of ``relevant`` over ``hedges`` in one task: one
    adjacency, then a DFS with a visited set from each domain id —
    reflexive (Q1), through foreign nodes, no round bound (a cycle ends
    the walk). Pairs leave in chunks flushed at 65,536 rows."""
    domain = relevant.select(F.col("id").alias("subject"), F.lit(None).cast("string"))
    rows = hedges.select("subject", "object").dropna().union(domain).coalesce(1)

    def solve(batches):
        adj, sources = defaultdict(list), set()
        for b in batches:  # a null object marks a domain row
            for s, o in zip(b["subject"], b["object"]):
                if o is not None:
                    adj[s].append(o)
                elif s is not None:  # a null id reaches nothing, as in SQL
                    sources.add(s)
        out_s, out_o = [], []
        for src in sources:
            seen, todo = {src}, [src]
            while todo:
                for nxt in adj.get(todo.pop(), ()):
                    if nxt not in seen:
                        seen.add(nxt)
                        todo.append(nxt)
            out_s += [src] * len(seen)
            out_o += seen
            if len(out_s) >= 65_536:
                yield pd.DataFrame({"s": out_s, "o": out_o})
                out_s, out_o = [], []
        if out_s:
            yield pd.DataFrame({"s": out_s, "o": out_o})

    return _emit(rows.mapInPandas(solve, "s string, o string"), ontology)


def _reach(
    seed: DataFrame, hedges: DataFrame, n: int, op_name: str, broadcast: bool
) -> DataFrame:
    """Pairs ``(s, o, born)``: the ``(s, o)`` seed pairs, extended by
    whole ``hedges`` paths from each ``o``, on the shared fixpoint;
    ``born`` is the fewest hops a pair needs past its seed. ``hedges``
    is pinned ``(subject, object)`` with ``n`` rows, the join's build
    side as ``broadcast`` picks (``partitioning.py``'s rule). The round
    bound is ``n + 1``: a shortest path uses each distinct edge at most
    once, so only a bug can reach it."""
    side = join_side(hedges, broadcast)
    return semi_naive_fixpoint(
        seed,
        lambda f: f.join(side, f["o"] == hedges["subject"]).select(
            f["s"], hedges["object"].alias("o")
        ),
        ["s", "o"],
        max_iterations=n + 1,
        op_name=op_name,
    )


def _emit(pairs: DataFrame, ontology: str) -> DataFrame:
    """J3 projection of reach pairs ``(s, o)``: F1 on the emitted
    ancestor only (Q2), in the closure-triple shape."""
    return pairs.filter(matches_ontology(F.col("o"), ontology)).select(
        F.col("s").alias("subject"),
        F.lit(CLOSURE_PREDICATE).alias("predicate"),
        F.col("o").alias("object"),
        F.lit(ONTOLOGY_RELATION_TYPE).alias("type"),
    )


def incremental_closure_update(
    edges: DataFrame,
    new_edges: DataFrame,
    prior_closure: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """The closure under edge ADDITIONS — the new-ontology-version case
    the reconciliation pipeline exists for: the closure of the net edge
    set ``edges ∪ new_edges``, equal to a fresh :func:`ancestor_closure`
    run over it. ``prior_closure`` (the closure of ``edges``) is not
    read. The dispatch counts the hierarchy edge ROWS, duplicates
    included: both arms absorb duplicates, and a distinct would cost
    the one-task arm a shuffle job (3 jobs, not 2, with the result's
    count)."""
    hedges, n = pin_count(
        select_hierarchy_edges(edges.unionByName(new_edges), predicates)
        .select("subject", "object")
    )
    return _closure("incremental_closure_update", hedges, n, relevant, ontology)


def incremental_closure_delete(
    edges: DataFrame,
    deleted_edges: DataFrame,
    prior_closure: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """The closure under edge DELETIONS — the other half of
    ontology-release maintenance: the closure of the net edge set
    ``edges`` minus ``deleted_edges``, equal to a fresh
    :func:`ancestor_closure` run over it. Removal is by full (s, p, o):
    a same-(s, o) edge under a predicate not being deleted keeps its
    hierarchy pair alive. ``prior_closure`` is not read."""
    key = ["subject", "predicate", "object"]
    remaining = edges.join(F.broadcast(deleted_edges.select(*key)), key, "left_anti")
    hedges, n = hierarchy_pairs(remaining, predicates)
    return _closure("incremental_closure_delete", hedges, n, relevant, ontology)
