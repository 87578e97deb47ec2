"""Streaming KG maintenance: edge CDC micro-batches folded into one net
edge set each must land on exactly the from-scratch closure of
the surviving edge set — adds, deletes, replayed duplicates and
no-op deletes included. Every test runs on both arms: the one-task
local solve (the default at these sizes) and the distributed reach
(ceiling forced to 0)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.operators import closure
from ontology_loader_spark.operators.closure import ancestor_closure
from ontology_loader_spark.streaming.closure import (
    StreamingClosureMaintainer,
    stream_edge_ops,
)

ONT = "p"


def _relevant(spark, n):
    return spark.createDataFrame([(f"P:{i}",) for i in range(n)], "id string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _both_arms(check):
    """Run ``check()`` on the local arm, then on the distributed arm."""
    check()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
        check()


def test_maintainer_matches_batch_closure_over_cdc_batches(spark):
    rel = _relevant(spark, 40)
    # batch 0: a binary tree over 0..19
    b0 = [(f"P:{i}", "rdfs:subClassOf", f"P:{i // 2}", "add")
          for i in range(1, 20)]
    # batch 1: graft 20..39 under node 7, plus a replay of 3 edges
    b1 = ([(f"P:{i}", "rdfs:subClassOf", f"P:{7 if i == 20 else i - 1}", "add")
           for i in range(20, 40)]
          + b0[:3])
    # batch 2: mixed — delete the graft point (cuts 20..39 loose from
    # the tree), add a replacement attachment, delete an absent edge
    b2 = [
        ("P:20", "rdfs:subClassOf", "P:7", "delete"),
        ("P:20", "BFO:0000050", "P:3", "add"),
        ("P:99", "rdfs:subClassOf", "P:98", "delete"),  # no-op
    ]
    schema = "subject string, predicate string, object string, op string"

    def check():
        m = StreamingClosureMaintainer(spark, rel, ONT)
        for i, rows in enumerate((b0, b1, b2)):
            m.process_batch(spark.createDataFrame(rows, schema), i)

        assert m.batches_applied == 3
        want = ancestor_closure(m.edges, rel, ONT)
        assert _rows(m.closure) == _rows(want)
        # the delete genuinely changed entailment: without the re-add via
        # part_of, P:21's ancestors would not include P:1
        got = {(r["subject"], r["object"]) for r in m.closure.collect()}
        assert ("P:21", "P:1") in got  # 21 -> 20 -> (part_of) 3 -> 1
        assert ("P:21", "P:7") not in got  # the deleted graft path is gone

    _both_arms(check)


def test_maintainer_add_then_delete_same_edge_in_one_batch_nets_deleted(spark):
    rel = _relevant(spark, 4)
    schema = "subject string, predicate string, object string, op string"

    def check():
        m = StreamingClosureMaintainer(spark, rel, ONT)
        m.process_batch(spark.createDataFrame(
            [("P:1", "rdfs:subClassOf", "P:0", "add"),
             ("P:2", "rdfs:subClassOf", "P:1", "add"),
             ("P:2", "rdfs:subClassOf", "P:1", "delete")], schema), 0)
        got = {(r["subject"], r["object"]) for r in m.closure.collect()}
        assert ("P:1", "P:0") in got
        assert ("P:2", "P:1") not in got  # Q5-style: delete wins the batch
        assert _rows(m.closure) == _rows(ancestor_closure(m.edges, rel, ONT))

    _both_arms(check)


def test_end_to_end_streaming_query_foreach_batch(spark, tmp_path):
    """The maintainer as a real foreachBatch sink over a file stream:
    one CDC file per trigger, final state equals the batch closure."""
    schema = "subject string, predicate string, object string, op string"
    files = [
        [(f"P:{i}", "rdfs:subClassOf", f"P:{i // 2}", "add")
         for i in range(1, 12)],
        [("P:12", "rdfs:subClassOf", "P:5", "add"),
         ("P:3", "rdfs:subClassOf", "P:1", "delete")],
    ]
    src = tmp_path / "cdc"
    src.mkdir()
    import os
    import time as _t

    base = _t.time() - 100
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(src / f"b{i}"))
        for f in (src / f"b{i}").glob("part-*.parquet"):
            target = src / f"f{i}.parquet"
            f.rename(target)
            os.utime(target, (base + i, base + i))

    rel = _relevant(spark, 16)

    def check():
        m = StreamingClosureMaintainer(spark, rel, ONT)
        q = (
            stream_edge_ops(spark, str(src))
            .writeStream.foreachBatch(m.process_batch)
            .option("checkpointLocation", tempfile.mkdtemp(dir=tmp_path))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), "stream did not end within 240 s"

        assert m.batches_applied >= 1
        assert _rows(m.closure) == _rows(ancestor_closure(m.edges, rel, ONT))
        got = {(r["subject"], r["object"]) for r in m.closure.collect()}
        assert ("P:12", "P:1") in got   # added in the second file
        assert ("P:3", "P:1") not in got  # deleted in the second file

    _both_arms(check)
    assert F  # keep the import honest


def test_edge_cdc_fixture_replay_nets_to_batch_state(spark, tmp_path):
    """The gate fixture's 4-batch replay (bulk add, remainder+replays,
    delete churn, re-add) must net to exactly the source edge set and
    the from-scratch closure — the invariant the
    ``streaming_mention_ancestors`` gate's oracle relies on."""
    from ontology_loader_spark.inputs import derive
    from ontology_loader_spark.inputs.derive import derive_edges, derive_term_dict
    from ontology_loader_spark.operators.closure import relevant_entities
    from ontology_loader_spark.streaming.closure import (
        replay_edge_cdc,
        write_edge_cdc_fixture,
    )

    sf_dir = "/root/testdata/sf0.001"
    ed = derive_edges(spark, sf_dir)
    cdc = write_edge_cdc_fixture(spark, ed, str(tmp_path / "cdc"))
    rel = relevant_entities(derive_term_dict(spark, sf_dir), derive.ONT)

    def check():
        m = replay_edge_cdc(spark, rel, derive.ONT, cdc)

        assert m.batches_applied == 4
        assert _rows(m.edges) == _rows(ed.select("subject", "predicate", "object"))
        assert _rows(m.closure) == _rows(ancestor_closure(m.edges, rel, derive.ONT))

    _both_arms(check)


def test_maintainer_job_budget_and_noop_batch(spark, monkeypatch, job_count):
    """Spark jobs for one micro-batch that both adds and deletes, on the
    200-term DAG of ``test_incremental_maintenance_job_budget`` (child
    k -> k//2, plus k -> k//3 for k % 4 == 3), on both arms; then a
    no-op batch (replayed adds, deletes of absent edges) must leave
    ``edges`` and ``closure`` row-equal to before.

    Local arm (the default at this size), measured and asserted: 5 jobs
    (the net edge set's shuffle and pin, the hierarchy pairs' shuffle
    and pin, the one-task solve). Distributed arm (ceiling forced to 0):
    the net adds, then the net deletes, through the delta derivations
    took 92 jobs (local[4], 8 shuffle partitions); one distributed
    solve of the net edge set, measured and asserted, takes 31."""
    n = 200
    isa, part_of = "rdfs:subClassOf", "BFO:0000050"
    edges = [(f"P:{k}", isa, f"P:{k // 2}") for k in range(1, n)]
    edges += [(f"P:{k}", part_of, f"P:{k // 3}") for k in range(3, n, 4)]
    added = edges[150:160] + edges[-5:]
    deleted = edges[3:8] + edges[-12:-7]
    schema = "subject string, predicate string, object string, op string"
    rel = _relevant(spark, n)

    def batch(adds, dels):
        rows = [(*e, "add") for e in adds] + [(*e, "delete") for e in dels]
        return spark.createDataFrame(rows, schema)

    def jobs():
        m = StreamingClosureMaintainer(spark, rel, ONT)
        m.process_batch(batch([e for e in edges if e not in added], []), 0)
        n_jobs = job_count(lambda: m.process_batch(batch(added, deleted), 1))
        assert _rows(m.edges) == sorted(e for e in edges if e not in deleted)
        assert _rows(m.closure) == _rows(ancestor_closure(m.edges, rel, ONT))

        before = _rows(m.edges), _rows(m.closure)
        m.process_batch(batch(edges[20:25] + added[:3], deleted + [("P:7", isa, "P:0")]), 2)
        assert (_rows(m.edges), _rows(m.closure)) == before
        return n_jobs

    local_jobs = jobs()
    assert local_jobs <= 5, local_jobs
    monkeypatch.setattr(closure, "LOCAL_CLOSURE_EDGES_MAX", 0)
    dist_jobs = jobs()
    assert dist_jobs <= 31, dist_jobs
