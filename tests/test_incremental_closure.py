"""Incremental closure maintenance: updating the prior closure with a
batch of added edges must equal a fresh full recompute — on random
DAGs, on cyclic graphs, and on the foreign-intermediate trap (a new
edge hanging off a node quirk Q2 filtered out of the stored closure).
Every equivalence runs on both arms: the one-task local solve (the
default at these sizes) and the distributed reach (ceiling forced to
0)."""

import random

import pytest

from ontology_loader_spark.operators import closure
from ontology_loader_spark.operators.closure import (
    ancestor_closure,
    incremental_closure_update,
    relevant_entities,
)
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

ONT = "p"


def mk_terms(n):
    return [(f"P:{i}", f"t{i}", "", [], False, None) for i in range(n)]


def _closure_set(df):
    return {(r["subject"], r["predicate"], r["object"], r["type"])
            for r in df.collect()}


def _both_arms(check):
    """Run ``check()`` on the local arm, then on the distributed arm."""
    check()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
        check()


def _check(spark, terms, old_edges, new_edges):
    td = spark.createDataFrame(terms, TERM_DICT_SCHEMA)
    old = spark.createDataFrame(old_edges, EDGE_SCHEMA)
    new = spark.createDataFrame(new_edges, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT).localCheckpoint(eager=True)

    def check():
        prior = ancestor_closure(old, rel, ONT).localCheckpoint(eager=True)
        incremental = incremental_closure_update(old, new, prior, rel, ONT)
        full = ancestor_closure(old.unionByName(new), rel, ONT)
        assert _closure_set(incremental) == _closure_set(full)

    _both_arms(check)


@pytest.mark.parametrize("seed,n,n_new", [(11, 40, 5), (12, 60, 8)])
def test_incremental_equals_full_random_dag(spark, seed, n, n_new):
    rng = random.Random(seed)
    edges = [(f"P:{i}", "rdfs:subClassOf", f"P:{rng.randrange(i)}")
             for i in range(1, n)]
    rng.shuffle(edges)
    old, new = edges[:-n_new], edges[-n_new:]
    _check(spark, mk_terms(n), old, new)


def test_incremental_through_foreign_intermediate(spark):
    """New edge hangs off a FOREIGN node: prior closure holds no pair
    ending at Q:7 (Q2 emission filter), yet P:8 must gain the new
    ancestors reachable through it."""
    terms = mk_terms(10)
    old = [
        ("P:8", "rdfs:subClassOf", "Q:7"),   # into foreign
        ("P:2", "rdfs:subClassOf", "P:1"),
    ]
    new = [("Q:7", "rdfs:subClassOf", "P:2")]  # foreign -> back into P
    _check(spark, terms, old, new)
    # and explicitly: the full path P:8 -> Q:7 -> P:2 -> P:1 lands
    td = spark.createDataFrame(terms, TERM_DICT_SCHEMA)
    rel = relevant_entities(td, ONT)
    prior = ancestor_closure(spark.createDataFrame(old, EDGE_SCHEMA), rel, ONT)
    inc = incremental_closure_update(
        spark.createDataFrame(old, EDGE_SCHEMA),
        spark.createDataFrame(new, EDGE_SCHEMA),
        prior.localCheckpoint(eager=True), rel, ONT,
    )
    got = _closure_set(inc)
    assert ("P:8", "entailed_isa_partof_closure", "P:1",
            "nmdc:OntologyRelation") in got


def test_incremental_cycle_created_by_new_edge(spark):
    terms = mk_terms(6)
    old = [
        ("P:1", "rdfs:subClassOf", "P:2"),
        ("P:2", "rdfs:subClassOf", "P:3"),
    ]
    new = [("P:3", "rdfs:subClassOf", "P:1")]  # closes a cycle
    _check(spark, terms, old, new)


def test_incremental_noop_delta(spark):
    """A delta that re-adds existing edges (or only ignored
    predicates) leaves the closure exactly unchanged."""
    terms = mk_terms(8)
    old = [(f"P:{i}", "rdfs:subClassOf", f"P:{i - 1}") for i in range(1, 8)]
    new = [old[3], ("P:5", "rdfs:seeAlso", "P:0")]
    _check(spark, terms, old, new)


# ------------------------------------------------------- deletions


def _check_delete(spark, terms, edges, deleted):
    td = spark.createDataFrame(terms, TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    dl = spark.createDataFrame(deleted, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT).localCheckpoint(eager=True)
    from ontology_loader_spark.operators.closure import (
        incremental_closure_delete,
    )

    remaining = [e for e in edges if e not in deleted]

    def check():
        prior = ancestor_closure(ed, rel, ONT).localCheckpoint(eager=True)
        incremental = incremental_closure_delete(ed, dl, prior, rel, ONT)
        full = ancestor_closure(
            spark.createDataFrame(remaining, EDGE_SCHEMA), rel, ONT
        )
        assert _closure_set(incremental) == _closure_set(full)

    _both_arms(check)


@pytest.mark.parametrize("seed,n,n_del", [(21, 40, 5), (22, 60, 8)])
def test_delete_equals_full_random_dag(spark, seed, n, n_del):
    rng = random.Random(seed)
    edges = [(f"P:{i}", "rdfs:subClassOf", f"P:{rng.randrange(i)}")
             for i in range(1, n)]
    deleted = rng.sample(edges, n_del)
    _check_delete(spark, mk_terms(n), edges, deleted)


def test_delete_breaks_cycle(spark):
    terms = mk_terms(6)
    edges = [
        ("P:1", "rdfs:subClassOf", "P:2"),
        ("P:2", "rdfs:subClassOf", "P:3"),
        ("P:3", "rdfs:subClassOf", "P:1"),   # cycle
        ("P:4", "rdfs:subClassOf", "P:1"),
    ]
    _check_delete(spark, terms, edges, [("P:2", "rdfs:subClassOf", "P:3")])


def test_delete_through_foreign_intermediate(spark):
    """Deleting the foreign hop must retract ancestors reached through
    it, even though the stored closure holds no pair ending at the
    foreign node (Q2) — the closure walks the RAW edges."""
    terms = mk_terms(10)
    edges = [
        ("P:8", "rdfs:subClassOf", "Q:7"),
        ("Q:7", "rdfs:subClassOf", "P:2"),
        ("P:2", "rdfs:subClassOf", "P:1"),
    ]
    _check_delete(spark, terms, edges, [("Q:7", "rdfs:subClassOf", "P:2")])
    # explicitly: P:8 loses P:2/P:1 but keeps its reflexive row
    td = spark.createDataFrame(terms, TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT)
    prior = ancestor_closure(ed, rel, ONT).localCheckpoint(eager=True)
    from ontology_loader_spark.operators.closure import (
        incremental_closure_delete,
    )

    got = _closure_set(incremental_closure_delete(
        ed, spark.createDataFrame(
            [("Q:7", "rdfs:subClassOf", "P:2")], EDGE_SCHEMA),
        prior, rel, ONT))
    assert ("P:8", "entailed_isa_partof_closure", "P:8",
            "nmdc:OntologyRelation") in got
    assert ("P:8", "entailed_isa_partof_closure", "P:1",
            "nmdc:OntologyRelation") not in got


def test_delete_same_pair_other_predicate_survives(spark):
    """Deleting (s, subClassOf, o) must NOT retract reachability kept
    alive by (s, BFO:0000050, o) — removal is by full (s, p, o)."""
    terms = mk_terms(4)
    edges = [
        ("P:2", "rdfs:subClassOf", "P:1"),
        ("P:2", "BFO:0000050", "P:1"),
    ]
    _check_delete(spark, terms, edges, [("P:2", "rdfs:subClassOf", "P:1")])


def test_delete_noop_delta(spark):
    """Deleting edges that don't exist (or only ignored predicates)
    leaves the closure exactly unchanged."""
    terms = mk_terms(8)
    edges = [(f"P:{i}", "rdfs:subClassOf", f"P:{i - 1}") for i in range(1, 8)]
    _check_delete(spark, terms, edges,
                  [("P:9", "rdfs:subClassOf", "P:0"),
                   ("P:5", "rdfs:seeAlso", "P:0")])
