"""The shared semi-naive fixpoint: bounded loops raise naming their
operator, each call logs its rounds, each measured dispatch writes one
decision record, and incremental maintenance stays inside a Spark-job
budget."""

import logging

import pytest

from pyspark.sql import functions as F

from ontology_loader_spark import partitioning
from ontology_loader_spark.fixpoint import semi_naive_fixpoint
from ontology_loader_spark.operators import closure
from ontology_loader_spark.operators.closure import (
    ancestor_closure,
    hierarchy_pairs,
    incremental_closure_delete,
    incremental_closure_update,
    relevant_entities,
)
from ontology_loader_spark.operators.redirects import redirect_map
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

ONT = "p"
ISA = "rdfs:subClassOf"


def _terms(spark, n):
    rows = [(f"P:{i}", f"t{i}", "", [], False, None) for i in range(n)]
    return spark.createDataFrame(rows, TERM_DICT_SCHEMA)


def _edges(spark, rows):
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def _chain(n):
    """P:k subClassOf P:k-1 — a chain DAG of depth n-1."""
    return [(f"P:{k}", ISA, f"P:{k - 1}") for k in range(1, n)]


def _reflexive(rel):
    return rel.select(F.col("id").alias("s"), F.col("id").alias("o"))


def test_fixpoint_overrun_raises_naming_op(spark):
    """A bounded loop that still finds new rows in its last round
    raises, naming its operator: an 8-chain needs seven hops."""
    hedges, _ = hierarchy_pairs(_edges(spark, _chain(8)))
    rel = relevant_entities(_terms(spark, 8), ONT)
    with pytest.raises(RuntimeError, match="x did not converge in 2"):
        semi_naive_fixpoint(
            _reflexive(rel),
            lambda f: f.join(hedges, f["o"] == hedges["subject"]).select(
                f["s"], hedges["object"].alias("o")
            ),
            ["s", "o"],
            max_iterations=2,
            op_name="x",
        )


def _cut_rounds(monkeypatch, rounds):
    """Bound the closure family's distributed loop at ``rounds``, below
    the distinct-edge bound it sets itself, and force that arm
    (ceiling 0)."""
    monkeypatch.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)

    def cut(*args, max_iterations: int, **kwargs):
        return semi_naive_fixpoint(*args, max_iterations=rounds, **kwargs)

    monkeypatch.setattr(closure, "semi_naive_fixpoint", cut)


def _doubling_tree(n):
    """P:k subClassOf P:k//2 for k in 2..n-1 — each level twice as wide
    as the one above it."""
    return [(f"P:{k}", ISA, f"P:{k // 2}") for k in range(2, n)]


@pytest.mark.parametrize("graph,max_iterations", [("frontier", 3), ("doubling", 1)])
def test_ancestor_closure_overrun_raises(spark, monkeypatch, graph, max_iterations):
    """The distributed arm, cut short, raises naming ``ancestor_closure``
    (the local arm has no round bound). ``frontier``: an 8-chain, whose
    frontier gains one hop a round for seven rounds; ``doubling``: a
    16-node binary tree, three hops deep."""
    rows = _chain(8) if graph == "frontier" else _doubling_tree(16)
    rel = relevant_entities(_terms(spark, 16), ONT)
    _cut_rounds(monkeypatch, max_iterations)
    with pytest.raises(
        RuntimeError, match=f"ancestor_closure did not converge in {max_iterations}"
    ):
        ancestor_closure(_edges(spark, rows), rel, ONT)


def test_incremental_update_overrun_raises(spark, monkeypatch):
    """The bottom edge of the chain arrives last: the closure of the
    net edge set needs seven rounds and raises at two, naming the
    update."""
    edges = _chain(8)
    old, new = _edges(spark, edges[:-1]), _edges(spark, edges[-1:])
    rel = relevant_entities(_terms(spark, 8), ONT).localCheckpoint(eager=True)
    prior = ancestor_closure(old, rel, ONT).localCheckpoint(eager=True)
    _cut_rounds(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="incremental_closure_update did not"):
        incremental_closure_update(old, new, prior, rel, ONT)


def test_incremental_delete_reverse_pass_overrun_raises(spark, monkeypatch):
    """Deleting the top edge leaves a 7-chain to re-solve. The delete's
    one distributed loop (the closure of the remaining edges, which
    took the place of its reverse pass) raises at two rounds, naming
    the delete."""
    edges = _chain(8)
    ed = _edges(spark, edges)
    rel = relevant_entities(_terms(spark, 8), ONT).localCheckpoint(eager=True)
    prior = ancestor_closure(ed, rel, ONT).localCheckpoint(eager=True)
    _cut_rounds(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="incremental_closure_delete did not"):
        incremental_closure_delete(ed, _edges(spark, edges[:1]), prior, rel, ONT)


def test_deep_chain_distributed_arm(spark, monkeypatch):
    """A 70-edge chain on the distributed arm of all three operators
    returns every pair: the round bound follows the distinct edge
    count, where a fixed 64-round bound would raise."""
    monkeypatch.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
    n = 71
    edges = _chain(n)
    want = {(f"P:{k}", f"P:{j}") for k in range(n) for j in range(k + 1)}
    rel = relevant_entities(_terms(spark, n), ONT).localCheckpoint(eager=True)
    shortcut = [(f"P:{n - 1}", ISA, "P:0")]
    old, new = _edges(spark, edges[:-1]), _edges(spark, edges[-1:])
    prior = ancestor_closure(old, rel, ONT).localCheckpoint(eager=True)

    def pairs(df):
        return {(r["subject"], r["object"]) for r in df.collect()}

    assert pairs(ancestor_closure(_edges(spark, edges), rel, ONT)) == want
    assert pairs(incremental_closure_update(old, new, prior, rel, ONT)) == want
    full = _edges(spark, edges + shortcut)
    assert pairs(incremental_closure_delete(
        full, _edges(spark, shortcut), prior, rel, ONT)) == want


def _redirect_terms(spark, rows):
    """(id, replaced_by) rows; a term with a replacement is obsolete."""
    return spark.createDataFrame(
        [(i, i, "", [], dst is not None, dst) for i, dst in rows],
        TERM_DICT_SCHEMA,
    )


def _redirects(spark, rows):
    got = redirect_map(_redirect_terms(spark, rows)).collect()
    assert len(got) == len({r["src"] for r in got})
    return {r["src"]: r["dst"] for r in got}


def test_redirect_map_overrun_raises(spark):
    """Four hops need two rounds of pointer jumping."""
    chain = [("P:1", "P:2"), ("P:2", "P:3"), ("P:3", "P:4"), ("P:4", "P:5"),
             ("P:5", None)]
    with pytest.raises(RuntimeError, match="redirect_map"):
        redirect_map(_redirect_terms(spark, chain), max_iterations=1)
    assert _redirects(spark, chain) == {f"P:{i}": "P:5" for i in range(1, 5)}


def test_redirect_map_long_chains_and_cycle_tail(spark):
    """More redirect sources than the default iteration bound: a clean
    chain of 20 hops, one of exactly 17, and a tail into a 2-cycle.
    Chains resolve to their live end; the tail and the cycle land
    inside the cycle, the same way on every run."""
    rows = [(f"P:c{k}", f"P:c{k + 1}") for k in range(20)] + [("P:c20", None)]
    rows += [(f"P:d{k}", f"P:d{k + 1}") for k in range(17)] + [("P:d17", None)]
    rows += [("P:x", "P:y"), ("P:y", "P:a"), ("P:a", "P:b"), ("P:b", "P:a")]
    got = _redirects(spark, rows)
    assert {k: got[f"P:c{k}"] for k in range(20)} == dict.fromkeys(range(20), "P:c20")
    assert {k: got[f"P:d{k}"] for k in range(17)} == dict.fromkeys(range(17), "P:d17")
    assert {got[s] for s in ("P:x", "P:y", "P:a", "P:b")} <= {"P:a", "P:b"}
    assert len(got) == 20 + 17 + 4
    assert _redirects(spark, rows) == got


def test_fixpoint_logs_rounds_and_frontier_sizes(spark, caplog):
    rel = relevant_entities(_terms(spark, 5), ONT)
    hedges, n = hierarchy_pairs(_edges(spark, _chain(5)))
    with caplog.at_level(logging.DEBUG, logger="ontology_loader_spark.fixpoint"):
        closure._reach(_reflexive(rel), hedges, n, "ancestor_closure", True)
    (rec,) = [r for r in caplog.records if r.name == "ontology_loader_spark.fixpoint"]
    assert rec.levelno == logging.DEBUG
    assert rec.op_name == "ancestor_closure"
    # 5 reflexive seeds, then one pair fewer per hop of the chain
    assert rec.new_rows == [5, 4, 3, 2, 1, 0]
    assert rec.rounds == 5


def test_each_dispatch_family_logs_one_decision(spark, caplog):
    """One call per family of measured dispatch writes exactly one
    DEBUG decision record: operator, measured count, threshold, choice."""
    import datetime

    from ontology_loader_spark.operators.dedup import ngram_jaccard
    from ontology_loader_spark.operators.graph import term_ancestor_jaccard
    from ontology_loader_spark.operators.materialize import transitive_reduction
    from ontology_loader_spark.pipeline import mention_triples_from_closure
    from ontology_loader_spark.schemas import TRANSCRIPT_SCHEMA
    from ontology_loader_spark.transcripts.mentions import detect_mentions
    from ontology_loader_spark.transcripts.unionfind import connected_components_auto

    top = partitioning.BROADCAST_ROWS_MAX
    rel = relevant_entities(_terms(spark, 4), ONT)
    clo = spark.createDataFrame([("P:1", "P:0"), ("P:1", "P:1"), ("P:0", "P:0")],
                                "subject string, object string")
    links = spark.createDataFrame([("c", 0, "P:1")],
                                  "conv_id string, turn_idx int, term_id string")
    ab = spark.createDataFrame([(0, 1)], "a long, b long")
    docs = spark.createDataFrame([(0, "a b c d"), (1, "a b c e")], "doc_id long, text string")
    uv = spark.createDataFrame([(0, 1), (1, 0)], "u long, v long")
    tr = spark.createDataFrame(
        [("c", 0, "user", "t1 here", None, datetime.datetime(2026, 6, 1))], TRANSCRIPT_SCHEMA
    )
    md = spark.createDataFrame([("P:1", "t1"), ("P:2", "t2")], "id string, name string")
    calls = [
        (lambda: mention_triples_from_closure(links, clo),
         ("mention_triples_from_closure", 3, top, "broadcast")),
        (lambda: term_ancestor_jaccard(clo, ab.selectExpr("'P:0' a", "'P:1' b")),
         ("term_ancestor_jaccard", 1, top, "broadcast")),
        (lambda: ngram_jaccard(docs, ab), ("ngram_jaccard", 1, top, "broadcast")),
        (lambda: connected_components_auto(docs.selectExpr("doc_id AS node"), uv),
         ("connected_components_auto", 2, top, "driver")),
        (lambda: detect_mentions(spark, tr, md), ("detect_mentions", 2, top, "collected")),
        (lambda: transitive_reduction(_edges(spark, _chain(4))),
         ("transitive_reduction", 3, top, "broadcast")),
        (lambda: ancestor_closure(_edges(spark, _chain(4)), rel, ONT),
         ("ancestor_closure", 3, closure.LOCAL_CLOSURE_EDGES_MAX, "local")),
    ]
    for call, want in calls:
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger=partitioning.__name__):
            call()
        (rec,) = [r for r in caplog.records if r.name == partitioning.__name__]
        assert rec.levelno == logging.DEBUG
        assert (rec.op_name, rec.measured, rec.threshold, rec.choice) == want


def test_incremental_maintenance_job_budget(spark, monkeypatch, job_count):
    """Spark jobs for one add batch and one delete batch on a fixed
    200-term DAG (child k -> k//2, plus k -> k//3 for k % 4 == 3),
    including one count of the result, on both arms.

    Distributed arm (ceiling forced to 0): the loops that pinned, then
    counted or ran ``isEmpty``, then re-pinned an accumulator every
    round spent 98-99 jobs on the add and 95 on the delete (local[4],
    8 shuffle partitions); the delta derivations on the shared fixpoint
    (a reverse pass, then a forward pass or a cone re-derive) 38 and
    45. The closure of the net edge set, measured and asserted: 32 and
    31.

    Local arm (the default at this size), measured and asserted: 2
    jobs for the add (the edge pin; the one-task solve under the
    count) and 4 for the delete (the deleted edges' broadcast, the
    remaining edges' distinct shuffle and pin, the solve)."""
    n = 200
    edges = [(f"P:{k}", ISA, f"P:{k // 2}") for k in range(1, n)]
    edges += [(f"P:{k}", "BFO:0000050", f"P:{k // 3}") for k in range(3, n, 4)]
    added = edges[150:160] + edges[-5:]
    deleted = edges[3:8] + edges[-12:-7]
    old = _edges(spark, [e for e in edges if e not in added])
    full = _edges(spark, edges)
    rel = relevant_entities(_terms(spark, n), ONT).localCheckpoint(eager=True)

    def jobs():
        prior_old = ancestor_closure(old, rel, ONT).localCheckpoint(eager=True)
        prior_full = ancestor_closure(full, rel, ONT).localCheckpoint(eager=True)
        add_jobs = job_count(lambda: incremental_closure_update(
            old, _edges(spark, added), prior_old, rel, ONT).count())
        del_jobs = job_count(lambda: incremental_closure_delete(
            full, _edges(spark, deleted), prior_full, rel, ONT).count())
        return add_jobs, del_jobs

    add_jobs, del_jobs = jobs()
    assert add_jobs <= 2, add_jobs
    assert del_jobs <= 4, del_jobs
    monkeypatch.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
    add_jobs, del_jobs = jobs()
    assert add_jobs <= 32, add_jobs
    assert del_jobs <= 31, del_jobs


def test_hierarchy_walk_job_budget(spark, job_count):
    """Spark jobs for ``term_depth``, ``transitive_reduction`` and
    ``cycle_members`` on the fixed 200-term DAG of the maintenance
    budget, including one count of the result. Their hand-written
    loops (frontier pin, ``isEmpty``, union pin every round) spent
    89 / 80 / 36 jobs (local[4], 8 shuffle partitions); on the shared
    fixpoint, one action a round, the measured counts are the bounds."""
    from ontology_loader_spark.operators.graph import term_depth
    from ontology_loader_spark.operators.materialize import transitive_reduction
    from ontology_loader_spark.operators.validate import cycle_members

    n = 200
    edges = [(f"P:{k}", ISA, f"P:{k // 2}") for k in range(1, n)]
    edges += [(f"P:{k}", "BFO:0000050", f"P:{k // 3}") for k in range(3, n, 4)]
    ed = spark.createDataFrame(edges, "subject string, predicate string, object string")
    got = {op.__name__: job_count(lambda: op(ed).count())
           for op in (term_depth, transitive_reduction, cycle_members)}
    assert got["term_depth"] <= 35, got
    assert got["transitive_reduction"] <= 36, got
    assert got["cycle_members"] <= 24, got
