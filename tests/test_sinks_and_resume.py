"""Sink-layer tests: TSV report shapes (Q7/Q8), state-store snapshot
pinning, and checkpoint-resume (a second run short-circuits completed
stages; state evolves across runs like the reference's live store)."""

import json

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.pipeline import run_ontology_load_checkpointed
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA
from ontology_loader_spark.sinks.reports import Report, write_reports
from ontology_loader_spark.sinks.state import ParquetStateStore

TERMS = [
    ("T:1", "one", "d1", [], False, None),
    ("T:2", "two", "d2", [], False, None),
    ("T:3", "three", "d3", [], True, "T:1"),
]
EDGES = [("T:2", "rdfs:subClassOf", "T:1")]


def test_write_reports_q7_q8(spark, tmp_path):
    df = spark.createDataFrame([("A:1", "A:1", "n")], "id string, f_id string, f_name string")
    rel = spark.createDataFrame([("A:1", "p", "A:2")],
                                "subject string, predicate string, object string")
    paths = write_reports(
        [Report("update", df, ["id", "name"]),
         Report("insert", df, ["id", "name"]),
         Report("insert", rel, ["subject", "predicate", "object"])],
        str(tmp_path),
    )
    names = [p.name for p in paths]
    # distinct filenames by default (Q8 fixed)
    assert names == ["ontology_updates.tsv", "ontology_inserts.tsv",
                     "ontology_inserts_1.tsv"]
    header = paths[0].read_text().splitlines()[0].split("\t")
    assert header[0] == "id" and header[1] == "f_id"  # Q7: id twice

    # compat mode reproduces the reference's overwrite collision
    paths2 = write_reports(
        [Report("insert", df, ["id", "name"]),
         Report("insert", rel, ["subject", "predicate", "object"])],
        str(tmp_path / "compat"), mimic_overwrite=True,
    )
    assert paths2[0] == paths2[1]
    final = paths2[1].read_text().splitlines()[0].split("\t")
    assert final == ["subject", "predicate", "object"]


def test_state_store_snapshot_pinning(spark, tmp_path, check_store_read):
    store = ParquetStateStore(str(tmp_path))
    df1 = spark.createDataFrame([(1,)], "x long")
    df2 = spark.createDataFrame([(2,)], "x long")
    v1 = store.publish(df1, "t")
    pinned = store.read(spark, "t", v1)
    v2 = store.publish(df2, "t")
    assert store.current_version("t") == v2
    # a reader pinned to v1 still sees the old rows after v2 publishes
    assert [r["x"] for r in pinned.collect()] == [1]
    assert [r["x"] for r in store.read(spark, "t").collect()] == [2]
    store.rollback("t", v1)
    assert [r["x"] for r in store.read(spark, "t").collect()] == [1]
    check_store_read(store, "t")
    # a version without the stored schema falls back to inference
    (tmp_path / "t" / f"v_{v1}" / "_schema.json").unlink()
    assert [r["x"] for r in store.read(spark, "t").collect()] == [1]


def test_checkpoint_resume(spark, tmp_path, check_store_read):
    td = spark.createDataFrame(TERMS, TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    root = str(tmp_path / "ck")

    rec1, ck1 = run_ontology_load_checkpointed(
        spark, td, ed, "t", root, fingerprint="run1",
        output_directory=str(tmp_path / "reports"),
    )
    n_classes = rec1.class_state.count()
    assert n_classes == 3
    stages1 = {row["stage"] for row in ck1.lineage()}
    assert "t3_closure" in stages1 and "t1_classes" in stages1
    # per-partition metrics rows exist
    metrics = [json.loads(line) for line in
               (tmp_path / "ck" / "metrics.jsonl").read_text().splitlines()]
    assert any(m["stage"] == "t3_closure" for m in metrics)

    # resume with the same fingerprint: every stage short-circuits
    # (lineage gets no new rows) and reconciliation runs against the
    # now-populated store: with identical inputs the load is a fixpoint
    # — every class is 'unchanged'. (The obsolete class T:3 carries no
    # relations at all under corrected Q6 — the closure domain excludes
    # obsoletes — so after M1 clears its stored relations, the incoming
    # doc matches the state exactly and no update echo occurs.)
    rec2, ck2 = run_ontology_load_checkpointed(
        spark, td, ed, "t", root, fingerprint="run1",
    )
    assert len(ck2.lineage()) == len(ck1.lineage())
    assert rec2.class_inserts_report.count() == 0
    assert rec2.class_updates_report.count() == 0
    assert rec2.class_state.count() == n_classes

    # new fingerprint (new input snapshot) recomputes stages
    n_before_run3 = len(ck2.lineage())
    rec3, ck3 = run_ontology_load_checkpointed(
        spark, td, ed, "t", root, fingerprint="run2",
    )
    assert len(ck3.lineage()) > n_before_run3
    # every stage checkpoint and both state tables
    tables = [d.name for d in ck3.store.root.iterdir() if ck3.store.exists(d.name)]
    assert {"ontology_class_set", "ontology_relation_set", "t3_closure"} <= set(tables)
    for table in tables:
        check_store_read(ck3.store, table)


def test_reports_written(spark, tmp_path):
    td = spark.createDataFrame(TERMS, TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    outdir = tmp_path / "reports"
    run_ontology_load_checkpointed(
        spark, td, ed, "t", str(tmp_path / "ck2"), fingerprint="r1",
        output_directory=str(outdir),
    )
    files = sorted(p.name for p in outdir.glob("*.tsv"))
    assert files == ["ontology_inserts.tsv", "ontology_inserts_1.tsv",
                     "ontology_updates.tsv"]
    assert (outdir / "ontology_inserts.tsv").stat().st_size > 0


def test_write_reports_output_format_fallback(spark, tmp_path):
    """Reference parity (reporter.py:46-60): output_format names the
    extension, and any non-tsv format falls back to comma-delimited
    CSV; output_directory=None writes to a fresh temp directory."""
    df = spark.createDataFrame([("A:1", "x,y")], "id string, val string")
    paths = write_reports(
        [Report("insert", df, ["id", "val"])],
        str(tmp_path / "csvfmt"), output_format="csv",
    )
    assert paths[0].name == "ontology_inserts.csv"
    lines = paths[0].read_text().splitlines()
    assert lines[0] == "id,val"
    # the embedded comma must survive via CSV quoting
    assert lines[1] == 'A:1,"x,y"'

    tmp_paths = write_reports([Report("update", df, ["id", "val"])])
    assert tmp_paths[0].exists()
    assert "ontology_reports_" in str(tmp_paths[0].parent)
