"""Injected-store controller parity
(``ontology_load_controller.py:31-50,52-92``): constructor validation,
injected vs owned store equivalence, and the two-run fixpoint."""

import pytest

from ontology_loader_spark.controller import (
    CLASS_TABLE,
    RELATION_TABLE,
    OntologyLoaderController,
)
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA
from ontology_loader_spark.sinks.state import ParquetStateStore

TERMS = [
    ("T:1", "one", "d1", [], False, None),
    ("T:2", "two", "d2", [], False, None),
    ("T:3", "old", "d3", [], True, "T:1"),
]
EDGES = [("T:2", "rdfs:subClassOf", "T:1")]


def _dfs(spark):
    return (
        spark.createDataFrame(TERMS, TERM_DICT_SCHEMA),
        spark.createDataFrame(EDGES, EDGE_SCHEMA),
    )


def test_client_without_namespace_rejected(spark, tmp_path):
    td, ed = _dfs(spark)
    with pytest.raises(ValueError, match="namespace is required"):
        OntologyLoaderController(
            spark, "t", td, ed, store_client=ParquetStateStore(str(tmp_path)),
        )


def test_no_client_requires_state_root(spark):
    td, ed = _dfs(spark)
    with pytest.raises(ValueError, match="state_root is required"):
        OntologyLoaderController(spark, "t", td, ed)


def test_injected_store_load_and_fixpoint(spark, tmp_path):
    td, ed = _dfs(spark)
    store = ParquetStateStore(str(tmp_path / "store"))
    ctl = OntologyLoaderController(
        spark, "t", td, ed, store_client=store, namespace="prod",
    )
    rec1 = ctl.run_ontology_loader()
    assert rec1.class_inserts_report.count() == 3
    # state landed in the INJECTED store under the namespace
    assert store.exists("prod.ontology_class_set")
    assert store.read(spark, "prod.ontology_class_set").count() == 3

    # second run against the populated store: fixpoint
    rec2 = OntologyLoaderController(
        spark, "t", td, ed, store_client=store, namespace="prod",
    ).run_ontology_loader()
    assert rec2.class_inserts_report.count() == 0
    assert rec2.class_updates_report.count() == 0


def test_owned_store_equivalent(spark, tmp_path):
    td, ed = _dfs(spark)
    injected = ParquetStateStore(str(tmp_path / "a"))
    rec_inj = OntologyLoaderController(
        spark, "t", td, ed, store_client=injected, namespace="kg",
    ).run_ontology_loader()
    rec_own = OntologyLoaderController(
        spark, "t", td, ed, state_root=str(tmp_path / "b"),
    ).run_ontology_loader()
    a = sorted(map(tuple, rec_inj.relation_state.collect()))
    b = sorted(map(tuple, rec_own.relation_state.collect()))
    assert a == b


def _release_over_prior_store(spark, tmp_path):
    """A store holding the prior release, and the next release's terms
    and edges: a term renamed and made obsolete, one added."""
    td, ed = _dfs(spark)
    store = ParquetStateStore(str(tmp_path / "store"))
    OntologyLoaderController(
        spark, "t", td, ed, store_client=store, namespace="kg",
    ).run_ontology_loader()
    td2 = spark.createDataFrame(
        [("T:1", "one", "d1", [], False, None),
         ("T:2", "two renamed", "d2", [], True, "T:1"),
         ("T:3", "old", "d3", [], True, "T:1"),
         ("T:4", "four", "d4", [], False, None)], TERM_DICT_SCHEMA)
    ed2 = spark.createDataFrame(EDGES + [("T:4", "rdfs:subClassOf", "T:1")], EDGE_SCHEMA)
    return store, td2, ed2


def test_release_over_prior_store_job_budget(spark, tmp_path, job_count):
    """Spark jobs for one ``run_ontology_loader`` over a store holding
    the prior release, reports included: measured 21 (local[4], 8
    shuffle partitions). Reconcile keys and exchanges each state table
    once; before that (the stored classes grouped by id four times, the
    incoming relations deduplicated twice, a separate F2 count) the
    same load took 36, and 41 before the incoming classes were derived
    once and the store read its schema instead of inferring it."""
    store, td2, ed2 = _release_over_prior_store(spark, tmp_path)
    ctl = OntologyLoaderController(
        spark, "t", td2, ed2, output_directory=str(tmp_path / "reports"),
        store_client=store, namespace="kg",
    )
    n_jobs = job_count(ctl.run_ontology_loader)
    assert n_jobs <= 21, n_jobs


def test_relation_side_job_budget(spark, tmp_path, job_count):
    """Spark jobs for one ``reconcile`` plus the relation-state write,
    over the same prior store and an extraction already run: measured
    11 (local[4], 8 shuffle partitions), 22 before. The relation side
    reads one broadcast of the obsolete ids for both anti-joins and
    shuffles the state once (the M3 groupBy); F2's counts come from the
    pin of the valid incoming relations, not from a job of their own."""
    from ontology_loader_spark.operators.reconcile import reconcile
    from ontology_loader_spark.pipeline import extract

    store, td2, ed2 = _release_over_prior_store(spark, tmp_path)
    ext = extract(td2, ed2, "t")
    table = f"kg.{RELATION_TABLE}"

    def load_relations():
        rec = reconcile(
            ext.classes, ext.relations_bag,
            store.read(spark, f"kg.{CLASS_TABLE}"), store.read(spark, table),
            assume_unique_ids=True,
        )
        store.publish(rec.relation_state, table)

    n_jobs = job_count(load_relations)
    assert n_jobs <= 11, n_jobs
