"""Property tests on randomized DAGs (fixed seed): closure is
reflexive (Q1), transitive, respects Q2 asymmetry, and equals an
independent BFS ground truth. Also: the iterative loop converges on
graphs WITH cycles (the reference's oaklib adapter tolerates cycles;
our anti-join frontier must too). Every test runs on both arms: the
one-task local solve (the default at these sizes) and path doubling
(ceiling forced to 0)."""

import random

import pytest

from ontology_loader_spark.operators import closure
from ontology_loader_spark.operators.closure import ancestor_closure, relevant_entities
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

ONT = "p"


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


@pytest.mark.parametrize("seed,n,extra", [(1, 30, 15), (2, 50, 40), (3, 40, 0)])
def test_random_dag_closure_matches_bfs(spark, seed, n, extra):
    rng = random.Random(seed)
    edges = [(f"P:{i}", "rdfs:subClassOf", f"P:{rng.randrange(i)}")
             for i in range(1, n)]
    for _ in range(extra):  # extra multi-parent edges (still acyclic: child > parent)
        i = rng.randrange(2, n)
        edges.append((f"P:{i}", "BFO:0000050", f"P:{rng.randrange(i)}"))
    # foreign noise: objects outside the ontology
    edges.append((f"P:{n - 1}", "rdfs:subClassOf", "Q:999"))

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
