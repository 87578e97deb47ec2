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
of the hierarchy edges it pins (``pin_count``) and logs the choice. A
dictionary-bounded hierarchy (at most ``LOCAL_CLOSURE_EDGES_MAX``
edges) is solved in ONE task: a handful of jobs whatever its height.
Above it the pair state stays distributed, on path doubling or on
:func:`~ontology_loader_spark.fixpoint.semi_naive_fixpoint`: one
pinned state and one action per round, keyed by the (subject, object)
pair, so no salting is needed. Nothing is collected.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count, semi_naive_fixpoint
from ontology_loader_spark.operators.curie import matches_ontology
from ontology_loader_spark.partitioning import (
    fits,
    join_side,
    record_decision,
    state_partitions,
)
from ontology_loader_spark.schemas import (
    CLOSURE_PREDICATE,
    DEFAULT_PREDICATES,
    ONTOLOGY_RELATION_TYPE,
)

# Hierarchy edges up to which a closure is solved in one task
# (_closure_local). DAG k -> k//2 (+ k//3 if k % 4 == 3), pinned, local[4]:
# 75k edges (1.85M pairs) 10.0 s, 148 MB worker peak RSS vs doubling 34.7 s;
# 200k (5.7M pairs) 15.1 s, 182 MB vs 156 s. Not a crossover: 200k is the
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
    max_iterations: int = 64,
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
    else path doubling, which raises ``RuntimeError`` past
    ``max_iterations`` rounds.
    """
    hedges, n_hedges = hierarchy_pairs(edges, predicates)
    if _local("ancestor_closure", n_hedges):
        return _closure_local(hedges, relevant, ontology)
    return _closure_doubling(hedges, n_hedges, relevant, ontology, max_iterations)


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


def _closure_frontier(hedges: DataFrame, relevant: DataFrame, ontology: str, max_iterations: int):
    """Semi-naive BFS over ``hedges`` from a reflexive seed (Q1):
    O(depth) rounds, each stepping only the pairs born in the last."""
    seed = relevant.select(F.col("id").alias("s"), F.col("id").alias("o"))
    return _emit(_reach(seed, hedges, max_iterations, "ancestor_closure"), ontology)


def _reach(seed: DataFrame, hedges: DataFrame, max_iterations: int, op_name: str) -> DataFrame:
    """Pairs ``(s, o, born)``: the ``(s, o)`` seed pairs, extended by
    whole ``hedges`` paths from each ``o``, on the shared fixpoint;
    ``born`` is the fewest hops a pair needs past its seed. ``hedges``
    (pinned ``(subject, object)``) broadcasts every round."""
    return semi_naive_fixpoint(
        seed,
        lambda f: f.join(F.broadcast(hedges), f["o"] == hedges["subject"]).select(
            f["s"], hedges["object"].alias("o")
        ),
        ["s", "o"],
        max_iterations=max_iterations,
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


def _hedge_set(edges: DataFrame, predicates) -> tuple[DataFrame, int]:
    """Pinned hierarchy ``(subject, object)`` pairs (duplicates are
    absorbed by the fixpoint's reduction and the local DFS) and their
    count."""
    return pin_count(select_hierarchy_edges(edges, predicates).select("subject", "object"))


def incremental_closure_update(
    edges: DataFrame,
    new_edges: DataFrame,
    prior_closure: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    max_iterations: int = 64,
) -> DataFrame:
    """Maintain the reflexive transitive closure under edge ADDITIONS —
    the new-ontology-version case the reconciliation pipeline exists
    for. At most ``LOCAL_CLOSURE_EDGES_MAX`` hierarchy edge ROWS in
    ``edges ∪ new_edges`` (duplicates and same (s, o) under two
    predicates count, unlike the distinct pairs the other two count),
    the closure is re-solved in one task; ``prior_closure`` is unread.
    Above it, delta-frontier semi-naive evaluation: a new pair can only
    arise as ``reach(s, a) ∘ new(a, b) ∘ reach(b, o)``. ``prior_closure``
    alone cannot seed the reach-in side: quirk Q2 filters foreign
    objects at EMISSION, so a pair (s → foreign a) was never stored
    though traversal passes through it. The seed is therefore a reverse
    BFS over the RAW (old ∪ new) edge set from the new edges' subjects
    — rows ∝ the delta's ancestor cone, never the old closure —
    intersected with the closure domain. The forward fixpoint then
    steps only the genuinely-new pairs against the full edge set
    (joined by the one join-side rule, ``partitioning.py``), prior
    pairs ``known``.

    ``prior_closure``: (subject, predicate, object, type) as produced
    by :func:`ancestor_closure` over ``edges``. Returns the closure of
    ``edges ∪ new_edges`` in the same shape, equal to a fresh
    :func:`ancestor_closure` run (pinned by a randomized test). New
    pairs never include a prior pair (those are ``known``), so the
    result is a disjoint union and needs no distinct."""
    all_hedges, n_hedges = _hedge_set(edges.unionByName(new_edges), predicates)
    if _local("incremental_closure_update", n_hedges):
        return _closure_local(all_hedges, relevant, ontology)
    hedges_side = join_side(all_hedges, fits("incremental_closure_update hedges", n_hedges))
    new_h = select_hierarchy_edges(new_edges, predicates)

    revreach = _reverse_reach(
        all_hedges, hedges_side, new_h, max_iterations, "incremental_closure_update"
    )
    # seed: (u ∈ closure domain) →* a, new edge a → b  ⇒  pair (u, b)
    seed = (
        revreach.join(
            F.broadcast(relevant.withColumnRenamed("id", "u")), "u", "left_semi"
        )
        .join(new_h.withColumnRenamed("subject", "a"), "a")
        .select(F.col("u").alias("s"), F.col("object").alias("o"))
    )
    reach = semi_naive_fixpoint(
        seed,
        lambda f: f.join(hedges_side, f["o"] == all_hedges["subject"]).select(
            f["s"], all_hedges["object"].alias("o")
        ),
        ["s", "o"],
        known=prior_closure.selectExpr("subject AS s", "object AS o"),
        max_iterations=max_iterations,
        op_name="incremental_closure_update",
    )
    return prior_closure.unionByName(_emit(reach, ontology))


def _reverse_reach(
    all_hedges: DataFrame,
    hedges_side,
    seeds: DataFrame,
    max_iterations: int,
    op_name: str,
    keys: tuple[str, ...] = ("u", "a"),
) -> DataFrame:
    """Reverse BFS over the hierarchy edge set: revreach(u, a) ⇔
    u →* a over ``all_hedges``, seeded reflexively at each ``subject``
    of ``seeds``. The row count iterated is proportional to the seeds'
    ancestor cone, never the full closure — the property both
    incremental-maintenance directions rely on. ``keys=("u",)`` keeps
    only the reaching nodes (the delete needs no seed per row).
    ``hedges_side``: ``all_hedges`` as a join side."""
    return semi_naive_fixpoint(
        seeds.select(F.col("subject").alias("u"), F.col("subject").alias("a")),
        lambda f: f.join(hedges_side, f["u"] == all_hedges["object"]).select(
            all_hedges["subject"].alias("u"), *keys[1:]
        ),
        keys,
        max_iterations=max_iterations,
        op_name=f"{op_name} reverse pass",
    ).select(*keys)


def incremental_closure_delete(
    edges: DataFrame,
    deleted_edges: DataFrame,
    prior_closure: DataFrame,
    relevant: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    max_iterations: int = 64,
) -> DataFrame:
    """Maintain the closure under edge DELETIONS — the other half of
    ontology-release maintenance. At most ``LOCAL_CLOSURE_EDGES_MAX``
    distinct hierarchy edges in ``edges − deleted_edges`` (their pin's
    count), the new closure is re-solved in one task and
    ``prior_closure`` is not read. Above it, untouched rows are kept:
    delete-cone invalidation + re-derive (the DRed shape specialized
    to reachability). A pair (s, o) can only LOSE a derivation if some
    path from ``s`` used a deleted edge, which requires ``s →* a`` over
    the OLD edge set for a deleted edge's subject ``a``. So:

    1. reverse BFS over the OLD hierarchy edges from the deleted
       edges' subjects — cost proportional to the delete cone;
    2. ``affected`` = those sources ∩ closure domain; every stored row
       of an affected subject is invalidated (over-delete);
    3. re-derive: a fresh closure restricted to the affected subjects
       over the remaining edge set, by the MEASURED cone size: a small
       cone seeds a frontier BFS (cost ~ the cone, O(depth) rounds); a
       cone of half the closure domain or more (a deletion near the
       roots) takes path doubling's O(log2 depth) rounds;
    4. untouched subjects' rows carry over verbatim.

    The union is disjoint by subject, so no distinct is needed.
    ``prior_closure`` must be the closure of ``edges``; returns the
    closure of ``edges − deleted_edges``, equal to a fresh
    :func:`ancestor_closure` run (randomized-delta test + gate)."""
    # remove by full (s, p, o): a same-(s, o) edge under a predicate
    # not being deleted must keep its hierarchy pair alive
    key = ["subject", "predicate", "object"]
    remaining = edges.join(F.broadcast(deleted_edges.select(*key)), key, "left_anti")
    rem_h, n_rem = hierarchy_pairs(remaining, predicates)
    if _local("incremental_closure_delete", n_rem):
        return _closure_local(rem_h, relevant, ontology)
    old_h, n_old = _hedge_set(edges, predicates)
    hedges_side = join_side(old_h, fits("incremental_closure_delete hedges", n_old))
    revreach = _reverse_reach(
        old_h,
        hedges_side,
        select_hierarchy_edges(deleted_edges, predicates),
        max_iterations,
        "incremental_closure_delete",
        keys=("u",),
    )
    # one job measures both sides of the strategy dispatch below: the
    # cone on the pin, the closure domain on the semi-join's streamed side
    domain = Observation()
    affected, n_affected = pin_count(
        relevant.observe(domain, F.count(F.lit(1)).alias("n")).join(
            F.broadcast(revreach.select(F.col("u").alias("id"))), "id", "left_semi"
        )
    )

    kept = prior_closure.join(
        F.broadcast(affected.withColumnRenamed("id", "subject")),
        "subject",
        "left_anti",
    )
    if n_affected * 2 >= domain.get["n"]:
        rederived = _closure_doubling(rem_h, n_rem, affected, ontology, max_iterations)
    else:
        rederived = _closure_frontier(rem_h, affected, ontology, max_iterations)
    return kept.select(*prior_closure.columns).unionByName(rederived)


def _closure_doubling(
    hedges: DataFrame, n: int, relevant: DataFrame, ontology: str, max_iterations: int
) -> DataFrame:
    """Path-doubling reachability over the ``n`` pinned distinct
    ``hedges``: square the pair relation until the fixpoint —
    reach(k+1) = reach(k) ∪ (reach(k) ⋈ reach(k)); the pair count,
    observed on each round's pin, is the convergence test (one action
    per round)."""
    spark = hedges.sparkSession
    reach = hedges.select(F.col("subject").alias("s"), F.col("object").alias("o"))
    for _ in range(max_iterations):
        # a broadcast side saves the round's two shuffle-join jobs; at
        # 1.85M pairs it cost no time (doubling closure, local[4])
        right = join_side(reach, fits("ancestor_closure doubling", n)).alias("r")
        squared = (
            reach.alias("l")
            .join(right, F.col("l.o") == F.col("r.s"))
            .select(F.col("l.s").alias("s"), F.col("r.o").alias("o"))
        )
        # iteration-state width follows the observed pair count:
        # dictionary-scale graphs stay on a few tasks per round,
        # corpus-scale graphs fan out up to the session shuffle width
        reach, n2 = pin_count(
            reach.unionByName(squared)
            .distinct()
            .coalesce(state_partitions(spark, n * 2))
        )
        if n2 == n:
            break
        n = n2
    else:
        raise RuntimeError(f"ancestor_closure did not converge in {max_iterations}")
    rel = relevant.select(F.col("id").alias("s"))
    reached = rel.join(reach, "s", "inner").select("s", "o")
    reflexive = rel.select("s", F.col("s").alias("o"))
    # a cycle can make s reach itself — dedup against the reflexive seed
    return _emit(reflexive.unionByName(reached).distinct(), ontology)
