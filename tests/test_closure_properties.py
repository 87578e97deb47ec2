"""Property tests on randomized DAGs (fixed seed): closure is
reflexive (Q1), transitive, respects Q2 asymmetry, and each arm equals
an independent BFS ground truth. Also: the iterative loop converges on
graphs WITH cycles (the reference's oaklib adapter tolerates cycles;
our anti-join frontier must too). Every test runs on both arms: the
one-task local solve (the default at these sizes) and the distributed
reach (ceiling forced to 0)."""

import logging
import random

import pytest

from ontology_loader_spark import partitioning
from ontology_loader_spark.operators import closure
from ontology_loader_spark.operators.closure import ancestor_closure, relevant_entities
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

ONT = "p"
ISA, PART_OF = "rdfs:subClassOf", "BFO:0000050"


def bfs_closure(ids, edges, ontology=ONT):
    adj = {}
    for s, _, o in edges:
        adj.setdefault(s, set()).add(o)
    out = set()
    for ent in ids:
        seen, stack = {ent}, [ent]
        while stack:
            cur = stack.pop()
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        for anc in seen:
            head, sep, _ = anc.partition(":")
            if sep and head.lower() == ontology:
                out.add((ent, anc))
    return out


def mk_terms(n):
    return [(f"P:{i}", f"t{i}", "", [], False, None) for i in range(n)]


def _both_arms(check):
    """Run ``check()`` on the local arm, then on the distributed arm."""
    check()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
        check()


@pytest.mark.parametrize("seed,n,extra,fixed", [
    pytest.param(1, 30, 15, [], id="1-30-15"),
    pytest.param(2, 50, 40, [], id="2-50-40"),
    pytest.param(3, 40, 0, [], id="3-40-0"),
    # a cross edge and a part_of edge to a foreign object
    pytest.param(7, 40, 0, [("P:3", ISA, "P:5"), ("P:39", PART_OF, "Q:77")],
                 id="7-40-cross"),
    pytest.param(8, 25, 0, [("P:3", ISA, "P:5"), ("P:24", PART_OF, "Q:77")],
                 id="8-25-cross"),
    # a 2-cycle with an exit
    pytest.param(9, 4, 0, [("P:1", ISA, "P:2"), ("P:2", ISA, "P:1"), ("P:2", ISA, "P:3")],
                 id="2-cycle"),
])
def test_random_dag_closure_matches_bfs(spark, seed, n, extra, fixed):
    rng = random.Random(seed)
    edges = [(f"P:{i}", ISA, f"P:{rng.randrange(i)}") for i in range(1, n)]
    for _ in range(extra):  # extra multi-parent edges (still acyclic: child > parent)
        i = rng.randrange(2, n)
        edges.append((f"P:{i}", PART_OF, f"P:{rng.randrange(i)}"))
    # foreign noise: objects outside the ontology
    edges.append((f"P:{n - 1}", ISA, "Q:999"))
    edges += fixed

    td = spark.createDataFrame(mk_terms(n), TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    want = bfs_closure([f"P:{i}" for i in range(n)], edges)

    def check():
        got = {(r["subject"], r["object"])
               for r in ancestor_closure(ed, relevant_entities(td, ONT), ONT).collect()}
        assert got == want
        assert all((f"P:{i}", f"P:{i}") in got for i in range(n))  # Q1 reflexive
        assert all(not o.startswith("Q:") for _, o in got)          # Q2 emitted filter

    _both_arms(check)


def test_cycle_terminates(spark):
    edges = [
        ("P:1", "rdfs:subClassOf", "P:2"),
        ("P:2", "rdfs:subClassOf", "P:3"),
        ("P:3", "rdfs:subClassOf", "P:1"),  # cycle
        ("P:3", "rdfs:subClassOf", "P:4"),
    ]
    td = spark.createDataFrame(mk_terms(5), TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    want = bfs_closure([f"P:{i}" for i in range(5)], edges)

    def check():
        got = {(r["subject"], r["object"])
               for r in ancestor_closure(ed, relevant_entities(td, ONT), ONT).collect()}
        assert got == want

    _both_arms(check)


def test_local_arm_edge_cases(spark, caplog):
    """Each arm on an empty edge set (a maintainer's first closure), a
    domain id with no edges (P:0), a duplicate edge, a 2-cycle, a
    foreign intermediate (Q:7, traversed, never emitted) and an
    obsolete term (P:9: an ancestor, never a source)."""
    terms = mk_terms(7) + [("P:9", "t9", "", [], True, None)]
    edges = [
        ("P:1", ISA, "P:2"), ("P:1", ISA, "P:2"), ("P:2", ISA, "P:1"),
        ("P:3", ISA, "Q:7"), ("Q:7", PART_OF, "P:4"),
        ("P:5", ISA, "P:9"), ("P:9", ISA, "P:6"),
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
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
        assert pairs(ancestor_closure(ed, rel, ONT)) == want
        assert pairs(ancestor_closure(ed.limit(0), rel, ONT)) == reflexive
