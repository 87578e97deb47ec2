"""Ports of the reference's reconciliation tests (the north rule names
term-insertion, relation-insertion, and obsolete-term reconciliation):

- all-new classes -> N insert report rows, 0 updates
  (``tests/test_mock_mongodb_loader.py:104-128``)
- existing doc with changed fields -> update rows (``:131-152``)
- identical doc -> neither report (``mongodb_loader.py:103``)
- obsolete handling: mark is_obsolete, clear relations, delete
  relations referencing obsolete ids as subject OR object
  (``:225-269``; ``tests/test_ontology_load_controller.py:217-281``)
- duplicate stored id -> skip update (Q11, ``mongodb_loader.py:31-32``)
- Q5 ordering: obsolete-delete happens BEFORE relation insert, so
  incoming relations for obsolete terms are re-inserted
"""

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.operators.reconcile import reconcile
from ontology_loader_spark.schemas import ONTOLOGY_CLASS_SCHEMA, RELATION_SCHEMA
from ontology_loader_spark.sinks.state import ParquetStateStore


def mk_class(id, name="n", definition="d", aliases=(), relations=(),
             is_root=False, is_obsolete=False):
    return (
        id, "nmdc:OntologyClass", list(aliases), definition,
        [tuple(r) for r in relations], is_root, is_obsolete, name,
    )


def mk_rel(s, p, o):
    return (s, p, o, "nmdc:OntologyRelation")


def classes_df(spark, rows):
    return spark.createDataFrame(rows, ONTOLOGY_CLASS_SCHEMA)


def rels_df(spark, rows):
    return spark.createDataFrame(rows, RELATION_SCHEMA)


def empty_classes(spark):
    return spark.createDataFrame([], ONTOLOGY_CLASS_SCHEMA)


def empty_rels(spark):
    return spark.createDataFrame([], RELATION_SCHEMA)


def test_all_new_classes_are_inserts(spark):
    incoming = classes_df(spark, [mk_class("A:1"), mk_class("A:2"), mk_class("A:3")])
    res = reconcile(incoming, empty_rels(spark), empty_classes(spark), empty_rels(spark))
    assert res.class_inserts_report.count() == 3
    assert res.class_updates_report.count() == 0
    assert {r["id"] for r in res.class_state.collect()} == {"A:1", "A:2", "A:3"}


def test_changed_class_is_update_unchanged_is_neither(spark):
    prior = classes_df(spark, [mk_class("A:1", name="old"), mk_class("A:2")])
    incoming = classes_df(spark, [mk_class("A:1", name="new"), mk_class("A:2")])
    res = reconcile(incoming, empty_rels(spark), prior, empty_rels(spark))
    assert {r["id"] for r in res.class_updates_report.collect()} == {"A:1"}
    assert res.class_inserts_report.count() == 0
    state = {r["id"]: r["name"] for r in res.class_state.collect()}
    assert state == {"A:1": "new", "A:2": "n"}


def test_q9_none_vs_empty_counts_as_change(spark):
    # definition None in store vs "" incoming is a change (Python !=)
    prior_rows = [("A:1", "nmdc:OntologyClass", [], None, [], False, False, "n")]
    prior = spark.createDataFrame(
        prior_rows,
        "id string, type string, alternative_names array<string>, "
        "definition string, relations array<struct<subject:string,"
        "predicate:string,object:string,type:string>>, is_root boolean, "
        "is_obsolete boolean, name string",
    )
    incoming = classes_df(spark, [mk_class("A:1", definition="")])
    res = reconcile(incoming, empty_rels(spark), prior, empty_rels(spark))
    assert res.class_updates_report.count() == 1


def test_obsolete_marks_clears_and_deletes(spark):
    prior_classes = classes_df(
        spark,
        [
            mk_class("A:1", relations=[mk_rel("A:1", "rdfs:subClassOf", "A:2")]),
            mk_class("A:2"),
            mk_class("A:3"),
        ],
    )
    prior_rels = rels_df(
        spark,
        [
            mk_rel("A:1", "rdfs:subClassOf", "A:2"),   # subject obsolete -> deleted
            mk_rel("A:3", "rdfs:subClassOf", "A:1"),   # object obsolete -> deleted
            mk_rel("A:3", "rdfs:subClassOf", "A:2"),   # survives
        ],
    )
    incoming = classes_df(
        spark,
        [mk_class("A:1", is_obsolete=True), mk_class("A:2"), mk_class("A:3")],
    )
    res = reconcile(incoming, empty_rels(spark), prior_classes, prior_rels)
    state = {r["id"]: r for r in res.class_state.collect()}
    assert state["A:1"]["is_obsolete"] is True
    rels = {(r["subject"], r["predicate"], r["object"])
            for r in res.relation_state.collect()}
    assert rels == {("A:3", "rdfs:subClassOf", "A:2")}


def test_q5_delete_then_reinsert(spark):
    """Incoming relations referencing obsolete terms are inserted AFTER
    the purge — e.g. the obsolete term's reflexive self-closure."""
    prior_classes = classes_df(spark, [mk_class("A:5")])
    prior_rels = rels_df(spark, [mk_rel("A:5", "rdfs:subClassOf", "A:1")])
    incoming_classes = classes_df(spark, [mk_class("A:5", is_obsolete=True)])
    incoming_rels = rels_df(
        spark, [mk_rel("A:5", "entailed_isa_partof_closure", "A:5")]
    )
    res = reconcile(incoming_classes, incoming_rels, prior_classes, prior_rels)
    rels = {(r["subject"], r["predicate"], r["object"])
            for r in res.relation_state.collect()}
    assert rels == {("A:5", "entailed_isa_partof_closure", "A:5")}


def test_q11_duplicate_stored_id_skipped_by_obsolete_update(spark):
    dup = classes_df(
        spark, [mk_class("A:1", name="copy1"), mk_class("A:1", name="copy2")]
    )
    incoming = classes_df(spark, [mk_class("A:1", name="copy1", is_obsolete=True)])
    res = reconcile(incoming, empty_rels(spark), dup, empty_rels(spark))
    # M1 must NOT flip is_obsolete on the duplicated stored docs; the
    # M2 upsert then routes as update (fields differ) replacing both.
    # End-state: the incoming doc (both duplicate rows keyed out).
    state = res.class_state.collect()
    assert len(state) == 1 and state[0]["is_obsolete"] is True


def test_f2_invalid_relations_dropped(spark):
    incoming_rels = rels_df(
        spark,
        [
            mk_rel("A:1", "p", "A:2"),
            mk_rel("", "p", "A:2"),
            mk_rel("A:1", "", "A:2"),
            mk_rel("A:1", "p", ""),
        ],
    )
    incoming = classes_df(spark, [mk_class("A:1")])
    res = reconcile(incoming, incoming_rels, empty_classes(spark), empty_rels(spark))
    assert res.invalid_relation_count == 3
    assert res.relation_inserts_report.count() == 1
    assert res.relation_state.count() == 1


def test_q4_bag_report_set_store(spark):
    incoming_rels = rels_df(
        spark, [mk_rel("A:1", "p", "A:2"), mk_rel("A:1", "p", "A:2")]
    )
    incoming = classes_df(spark, [mk_class("A:1")])
    res = reconcile(incoming, incoming_rels, empty_classes(spark), empty_rels(spark))
    assert res.relation_inserts_report.count() == 2   # bag (report)
    assert res.relation_state.count() == 1            # set (store)


def test_duplicate_incoming_ids_converge_to_one_doc(spark):
    """Duplicate ids in the incoming batch collapse to one
    deterministic representative, so the end state holds exactly one
    doc per id (the reference's sequential per-id upsert converges the
    same way; which duplicate wins there is an iteration-order
    accident)."""
    incoming = classes_df(
        spark,
        [mk_class("A:1", name="first"), mk_class("A:1", name="second"),
         mk_class("A:2")],
    )
    res = reconcile(incoming, empty_rels(spark), empty_classes(spark),
                    empty_rels(spark))
    state = res.class_state.collect()
    assert len(state) == 2
    assert {r["id"] for r in state} == {"A:1", "A:2"}
    # deterministic representative: min by JSON render -> name "first"
    a1 = [r for r in state if r["id"] == "A:1"][0]
    assert a1["name"] == "first"
    # rerunning with the same batch is a fixpoint
    res2 = reconcile(incoming, empty_rels(spark), res.class_state,
                     res.relation_state)
    assert res2.class_updates_report.count() == 0
    assert res2.class_inserts_report.count() == 0


def test_schema_evolution_new_field_flows_through_cdc(spark, tmp_path, check_store_read):
    """Dynamic-introspection parity with the reference
    (``mongodb_loader.py:223`` introspects ``fields(OntologyClass)`` at
    runtime): a NEW column added to the class schema participates in
    the Q9 diff and the upsert with no code edits beyond the schema
    itself — the diff iterates the incoming frame's actual columns.

    Three cases: (a) both sides carry the field, value differs ->
    update; (b) the stored state PREDATES the field entirely — a
    non-null incoming value diffs against store-side NULL -> update,
    a null incoming value -> unchanged; (c) apply backfills the evolved
    column as NULL on kept rows."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ontology_loader_spark.operators.reconcile import (
        apply_class_upserts,
        classify_class_changes,
    )
    from ontology_loader_spark.schemas import ONTOLOGY_CLASS_SCHEMA

    evolved = StructType(
        list(ONTOLOGY_CLASS_SCHEMA.fields)
        + [StructField("semantic_version", StringType())]
    )

    def mk(id, ver, name="n"):
        return (*mk_class(id, name=name), ver)

    # (a) both sides evolved — only the new field differs
    prior = spark.createDataFrame([mk("A:1", "v1"), mk("A:2", "v1")], evolved)
    incoming = spark.createDataFrame([mk("A:1", "v2"), mk("A:2", "v1")], evolved)
    kinds = {r["id"]: r["change_kind"]
             for r in classify_class_changes(incoming, prior).collect()}
    assert kinds == {"A:1": "update", "A:2": "unchanged"}

    # (b) state predates the field: non-null incoming value -> update,
    # null -> unchanged
    legacy = classes_df(spark, [mk_class("A:1"), mk_class("A:2")])
    incoming2 = spark.createDataFrame(
        [mk("A:1", "v1"), mk("A:2", None)], evolved
    )
    kinds2 = {r["id"]: r["change_kind"]
              for r in classify_class_changes(incoming2, legacy).collect()}
    assert kinds2 == {"A:1": "update", "A:2": "unchanged"}

    # (c) apply against the legacy store: kept rows get NULL backfill,
    # updated rows carry the new value, schema is the evolved one
    incoming3 = spark.createDataFrame([mk("A:1", "v1")], evolved)
    classified = classify_class_changes(incoming3, legacy)
    state = apply_class_upserts(legacy, classified)
    assert "semantic_version" in state.columns
    got = {r["id"]: r["semantic_version"] for r in state.collect()}
    assert got == {"A:1": "v1", "A:2": None}
    store = ParquetStateStore(str(tmp_path))
    store.publish(state, "classes")
    check_store_read(store, "classes")


def test_schema_evolution_state_only_column_survives_on_untouched_docs(
    spark, tmp_path, check_store_read
):
    """The symmetric case: the stored state carries a column the
    incoming batch does NOT (field retired from the loader, or state
    written by a newer producer). Document-store semantics: documents
    this batch never touches keep the field's stored value; documents
    the batch replaces are whole-document upserts and carry NULL."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ontology_loader_spark.operators.reconcile import (
        apply_class_upserts,
        classify_class_changes,
    )
    from ontology_loader_spark.schemas import ONTOLOGY_CLASS_SCHEMA

    evolved = StructType(
        list(ONTOLOGY_CLASS_SCHEMA.fields)
        + [StructField("legacy_note", StringType())]
    )
    state = spark.createDataFrame(
        [(*mk_class("A:1"), "keep-me"), (*mk_class("A:2"), "replace-me")],
        evolved,
    )
    # incoming predates/retired the column and only touches A:2
    incoming = classes_df(spark, [mk_class("A:2", name="renamed")])
    classified = classify_class_changes(incoming, state)
    out = apply_class_upserts(state, classified)
    assert "legacy_note" in out.columns
    got = {r["id"]: (r["legacy_note"], r["name"]) for r in out.collect()}
    # untouched doc keeps the stored value; replaced doc is a wholesale
    # replacement (NULL for the column the batch does not carry)
    assert got == {"A:1": ("keep-me", "n"), "A:2": (None, "renamed")}
    store = ParquetStateStore(str(tmp_path))
    store.publish(out, "classes")
    check_store_read(store, "classes")
