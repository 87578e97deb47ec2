"""The closure's three solvers must agree on every graph shape: the
one-task local arm, path doubling (the distributed full build) and the
semi-naive frontier (the delete's small-cone re-derive), and therefore
the BFS ground truth."""

import logging
import random

import pytest

from ontology_loader_spark import partitioning
from ontology_loader_spark.operators import closure
from ontology_loader_spark.operators.closure import (
    ancestor_closure,
    relevant_entities,
    select_hierarchy_edges,
)
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

ONT = "p"


def mk_terms(n):
    return [(f"P:{i}", f"t{i}", "", [], False, None) for i in range(n)]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _arms(ed, rel):
    """(frontier, doubling, local) closure rows of one graph."""
    hedges = select_hierarchy_edges(ed).select("subject", "object").distinct()
    frontier = _rows(closure._closure_frontier(hedges, rel, ONT, 64))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
        doubling = _rows(ancestor_closure(ed, rel, ONT))
    return frontier, doubling, _rows(ancestor_closure(ed, rel, ONT))


@pytest.mark.parametrize("seed,n", [(7, 40), (8, 25)])
def test_doubling_equals_frontier(spark, seed, n):
    rng = random.Random(seed)
    edges = [(f"P:{i}", "rdfs:subClassOf", f"P:{rng.randrange(i)}")
             for i in range(1, n)]
    edges.append(("P:3", "rdfs:subClassOf", "P:5"))   # extra cross edge
    edges.append((f"P:{n-1}", "BFO:0000050", "Q:77"))  # foreign object
    td = spark.createDataFrame(mk_terms(n), TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT)
    a, b, local = _arms(ed, rel)
    assert a == b
    assert local == a


def test_doubling_cycle(spark):
    edges = [
        ("P:1", "rdfs:subClassOf", "P:2"),
        ("P:2", "rdfs:subClassOf", "P:1"),
        ("P:2", "rdfs:subClassOf", "P:3"),
    ]
    td = spark.createDataFrame(mk_terms(4), TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT)
    a, b, local = _arms(ed, rel)
    assert a == b
    assert local == a


def test_local_arm_edge_cases(spark, caplog):
    """The one-task solver on an empty edge set (a maintainer's first
    closure), a domain id with no edges (P:0), a duplicate edge, a
    2-cycle, a foreign intermediate (Q:7, traversed, never emitted)
    and an obsolete term (P:9: an ancestor, never a source)."""
    isa = "rdfs:subClassOf"
    terms = mk_terms(7) + [("P:9", "t9", "", [], True, None)]
    edges = [
        ("P:1", isa, "P:2"), ("P:1", isa, "P:2"), ("P:2", isa, "P:1"),
        ("P:3", isa, "Q:7"), ("Q:7", "BFO:0000050", "P:4"),
        ("P:5", isa, "P:9"), ("P:9", isa, "P:6"),
    ]
    rel = relevant_entities(spark.createDataFrame(terms, TERM_DICT_SCHEMA), ONT)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    reflexive = {(f"P:{i}", f"P:{i}") for i in range(7)}
    want = reflexive | {("P:1", "P:2"), ("P:2", "P:1"), ("P:3", "P:4"),
                        ("P:5", "P:9"), ("P:5", "P:6")}

    def pairs(df):
        rows = [(r["subject"], r["object"]) for r in df.collect()]
        assert len(rows) == len(set(rows))
        return set(rows)

    with caplog.at_level(logging.DEBUG, logger=partitioning.__name__):
        got = pairs(ancestor_closure(ed, rel, ONT))
        empty = pairs(ancestor_closure(ed.limit(0), rel, ONT))
    records = [r for r in caplog.records if r.name == partitioning.__name__]
    assert [(r.measured, r.choice) for r in records] == [(6, "local"), (0, "local")]
    assert got == want
    assert empty == reflexive
    assert {(r[0], r[2]) for r in _arms(ed, rel)[1]} == want
