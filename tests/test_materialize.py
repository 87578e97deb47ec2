"""KG materialization passes (``operators/materialize.py``) and the
term-graph k-core (``operators/graph.py::kcore``) on hand-built graphs
with known answers, plus the canonicalization module
(``transcripts/canonical.py``) and the generated driver rotation."""

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.operators.graph import kcore
from ontology_loader_spark.operators.materialize import (
    negative_sampling,
    predicate_stats,
    term_path_to_root,
    transitive_reduction,
)
from ontology_loader_spark.schemas import EDGE_SCHEMA


def _edges(spark, rows, predicate="rdfs:subClassOf"):
    return spark.createDataFrame(
        [(s, predicate, o) for s, o in rows],
        "subject string, predicate string, object string",
    )


# ------------------------------------------------ transitive reduction


def test_transitive_reduction_removes_implied_edge(spark):
    # a->b->c plus shortcut a->c: the shortcut is implied
    ed = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    got = {(r.subject, r.object) for r in transitive_reduction(ed).collect()}
    assert got == {("a", "b"), ("b", "c")}


def test_transitive_reduction_keeps_minimal_dag(spark):
    # diamond without shortcuts: nothing is redundant
    rows = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    ed = _edges(spark, rows)
    got = {(r.subject, r.object) for r in transitive_reduction(ed).collect()}
    assert got == set(rows)


def test_transitive_reduction_two_cycle_both_redundant(spark):
    # a<->b: each edge is implied by the length-3 path through the other
    ed = _edges(spark, [("a", "b"), ("b", "a")])
    assert transitive_reduction(ed).count() == 0


def test_transitive_reduction_long_chain_returns_all(spark):
    # 70 hops: deeper than any fixed round cap, no edge is implied
    rows = [(f"n{i}", f"n{i + 1}") for i in range(70)]
    got = {(r.subject, r.object) for r in transitive_reduction(_edges(spark, rows)).collect()}
    assert got == set(rows)


def test_transitive_reduction_on_edge_schema(spark):
    # the package's own non-nullable edge schema, as an in-memory frame
    rows = [("a", "rdfs:subClassOf", "b"), ("b", "rdfs:subClassOf", "c"),
            ("c", "rdfs:subClassOf", "d"), ("a", "BFO:0000050", "c")]
    ed = spark.createDataFrame(rows, EDGE_SCHEMA)
    got = {(r.subject, r.object) for r in transitive_reduction(ed).collect()}
    assert got == {("a", "b"), ("b", "c"), ("c", "d")}


# ------------------------------------------------ path to root


def test_term_path_min_parent_chain(spark):
    # b has parents a and z: min-id parent a must be followed
    ed = _edges(spark, [("b", "z"), ("b", "a"), ("a", "r")])
    rows = {r.id: r for r in term_path_to_root(ed).collect()}
    assert rows["b"].path == "b>a>r"
    assert rows["b"].root == "r"
    assert rows["b"].hops == 2
    assert rows["r"].path == "r" and rows["r"].hops == 0
    # z is a root too (object-only node)
    assert rows["z"].root == "z"


def test_term_path_cycle_chains_dropped(spark):
    # c's min-parent chain enters the a<->b cycle and never roots;
    # d roots normally
    ed = _edges(spark, [("a", "b"), ("b", "a"), ("c", "a"), ("d", "x")])
    rows = {r.id: r for r in term_path_to_root(ed).collect()}
    assert "c" not in rows and "a" not in rows and "b" not in rows
    assert rows["d"].path == "d>x"


# ------------------------------------------------ predicate stats


def test_predicate_stats_dangling_counts(spark):
    ed = spark.createDataFrame(
        [
            ("a", "is_a", "b"),
            ("a", "is_a", "ghost"),
            ("b", "part_of", "a"),
        ],
        "subject string, predicate string, object string",
    )
    td = spark.createDataFrame([("a",), ("b",)], "id string")
    rows = {r.predicate: r for r in predicate_stats(ed, td).collect()}
    assert rows["is_a"].n_edges == 2
    assert rows["is_a"].n_dangling_objects == 1
    assert rows["part_of"].n_dangling_objects == 0
    assert rows["is_a"].n_subjects == 1 and rows["is_a"].n_objects == 2


# ------------------------------------------------ negative sampling


def test_negative_sampling_properties(spark):
    rel = spark.createDataFrame([(f"t{i}",) for i in range(10)], "id string")
    pos = spark.createDataFrame(
        [(f"t{i}", "is_a", f"t{(i + 1) % 10}") for i in range(10)],
        "subject string, predicate string, object string",
    )
    neg = negative_sampling(pos, rel)
    out = neg.collect()
    # deterministic: second run identical
    assert sorted(map(tuple, out)) == sorted(map(tuple, neg.collect()))
    positives = {(r.subject, r.predicate, r.object) for r in pos.collect()}
    universe = {f"t{i}" for i in range(10)}
    for r in out:
        assert r.neg_object in universe
        assert (r.subject, "is_a", r.neg_object) not in positives


# ------------------------------------------------ k-core


def test_kcore_peels_tail(spark):
    # triangle a-b-c (2-core) with pendant d-a (peeled)
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "a")]
    pairs = spark.createDataFrame(
        und + [(v, u) for u, v in und], "u string, v string"
    )
    rows = {r.node: r.degree for r in kcore(pairs, k=2).collect()}
    assert rows == {"a": 2, "b": 2, "c": 2}


def test_kcore_cascading_peel_to_empty(spark):
    # path graph: peeling endpoints cascades until nothing survives
    und = [("a", "b"), ("b", "c"), ("c", "d")]
    pairs = spark.createDataFrame(
        und + [(v, u) for u, v in und], "u string, v string"
    )
    assert kcore(pairs, k=2).count() == 0


def test_kcore_raises_past_round_bound(spark):
    # 6-node path needs 3 peeling rounds to drain at k=2
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
    pairs = spark.createDataFrame(
        und + [(v, u) for u, v in und], "u string, v string"
    )
    with pytest.raises(RuntimeError, match="max_rounds"):
        kcore(pairs, k=2, max_rounds=1)
