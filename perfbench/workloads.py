"""The benchmark workloads. Each drives the program only through
its public entry points and sees only the generated parquet.

A workload has:

- ``setup()``: builds prior state through the program's own functions
  and runs the warm-up (part of ``setup_s``);
- ``inputs``: the parquet files one pass reads (the ``inputs`` layer);
- ``run_pass(frames)``: one steady pass from input frames to a
  complete, materialized or published result (the timed region);
- ``before_pass()``: untimed reset to the state every pass starts from;
- ``check()``: compares the pass's output with the reference
  (outside every timed region); returns mismatch descriptions;
- ``patches()``: where the traced run wraps each layer's public
  functions, as ``(module or object, attribute, layer, hook)``;
- ``trace_pairs``: how many plain/traced pass pairs a traced run
  makes at least (their differences are the tracing overhead).
"""

from __future__ import annotations

import csv
import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ontology_loader_spark.controller import (
    CLASS_TABLE,
    RELATION_TABLE,
    OntologyLoaderController,
)
from ontology_loader_spark.operators.closure import relevant_entities
from ontology_loader_spark.operators.reconcile import obsolete_ids
from ontology_loader_spark.pipeline import transcript_assertions
from ontology_loader_spark.sinks.state import ParquetStateStore
from ontology_loader_spark.streaming.closure import StreamingClosureMaintainer

from perfbench import checks

ONT = checks.ONT
NAMESPACE = "kg"


def _rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def _terms(path: str) -> list[tuple]:
    return [(r["id"], r["name"], r["definition"], r["alternative_names"],
             r["is_obsolete"], r["replaced_by"]) for r in _rows(path)]


def _edges(path: str) -> list[tuple]:
    return [(r["subject"], r["predicate"], r["object"]) for r in _rows(path)]


def _count(key: str):
    """Hook recording the row count of a layer's output."""
    return lambda args, kwargs, result: {key: result.count()}


class Workload:
    # plain/traced pass pairs a traced run makes at least
    trace_pairs = 1

    def __init__(self, spark, manifest: dict, work: Path):
        self.spark = spark
        self.m = manifest
        self.files = manifest["files"]
        self.work = work
        self.rows_per_pass = manifest["props"]["rows_per_pass"]
        self._want = None

    def read(self, name: str):
        return self.spark.read.parquet(self.files[name])

    def frames(self) -> dict:
        return {name: self.read(name) for name in self.inputs}


class OntologyRelease(Workload):
    """The release job: ``OntologyLoaderController.run_ontology_loader``
    loads release N+1 over a ``ParquetStateStore`` holding release N,
    then the live closure (``StreamingClosureMaintainer``, holding
    release N's closure) absorbs the release's edge delta as one CDC
    micro-batch."""

    inputs = ("terms_n1", "edges_n1", "cdc_forward")

    def setup(self) -> None:
        self.store = ParquetStateStore(str(self.work / "state"))
        # release N through the controller: builds the prior state and
        # is the cold warm-up pass of the load path
        self._load(self.read("terms_n"), self.read("edges_n"), self.work / "reports_n")
        self.base = {t: self.store.current_version(self._t(t))
                     for t in (CLASS_TABLE, RELATION_TABLE)}
        self.reports = self.work / "reports"
        # the live closure of release N, built by the maintainer from
        # release N's edges arriving as its first micro-batch; one extra
        # edge added and deleted in the same batch (deletes apply after
        # adds) warms the delete path and leaves release N's edges
        relevant = relevant_entities(self.read("terms_n"), ONT)
        self.maint = StreamingClosureMaintainer(self.spark, relevant, ONT)
        edges = self.read("edges_n").withColumn("op", F.lit("add"))
        extra = self.read("cdc_forward").filter(F.col("op") == "add").limit(1)
        self.maint.process_batch(
            edges.unionByName(extra).unionByName(extra.withColumn("op", F.lit("delete"))), 0)

    def _t(self, table: str) -> str:
        return f"{NAMESPACE}.{table}"

    def _load(self, terms, edges, reports: Path):
        return OntologyLoaderController(
            self.spark, ONT, terms, edges, output_directory=str(reports),
            store_client=self.store, namespace=NAMESPACE,
        ).run_ontology_loader()

    def before_pass(self) -> None:
        """Back to release N (untimed): store pointers rolled back, and
        the live closure takes the inverse batch. Before the first pass
        the inverse batch is a no-op (its adds exist, its deletes do
        not), so every pass starts right after the same batch."""
        for table, version in self.base.items():
            self.store.rollback(self._t(table), version)
        shutil.rmtree(self.reports, ignore_errors=True)
        self.maint.process_batch(self.read("cdc_inverse"), self.maint.batches_applied)

    def run_pass(self, frames) -> None:
        self._load(frames["terms_n1"], frames["edges_n1"], self.reports)
        self.maint.process_batch(frames["cdc_forward"], self.maint.batches_applied)

    def _report(self, name: str) -> list[list[str]]:
        with open(self.reports / name, newline="", encoding="utf-8") as fh:
            return list(csv.reader(fh, delimiter="\t"))[1:]

    def collect(self) -> dict:
        cls = self.store.read(self.spark, self._t(CLASS_TABLE)).collect()
        rels = self.store.read(self.spark, self._t(RELATION_TABLE)).collect()
        classes = {checks.canon_class(r.asDict()) for r in cls}
        prior = self.store.read(self.spark, self._t(CLASS_TABLE),
                                version=self.base[CLASS_TABLE])
        was_obsolete = {r["id"] for r in prior.filter("is_obsolete").collect()}
        return {
            "classes": classes,
            "relations": {(r["subject"], r["predicate"], r["object"]) for r in rels},
            "updates": {row[0] for row in self._report("ontology_updates.tsv")},
            "inserts": {row[0] for row in self._report("ontology_inserts.tsv")},
            "relation_report_rows": len(self._report("ontology_inserts_1.tsv")),
            "newly_obsolete": {c[0] for c in classes if c[6]} - was_obsolete,
            "closure": {(r["subject"], r["object"]) for r in
                        self.maint.closure.select("subject", "object").collect()},
            "edges": {tuple(r) for r in
                      self.maint.edges.select("subject", "predicate", "object").collect()},
        }

    def check(self) -> list[str]:
        if self._want is None:
            f = self.files
            terms_n, edges_n1 = _terms(f["terms_n"]), _edges(f["edges_n1"])
            self._want = checks.expected_release(
                terms_n, _edges(f["edges_n"]), _terms(f["terms_n1"]), edges_n1)
            # the maintainer's closure domain stays release N's terms
            self._want["closure"] = checks.expected_closure(terms_n, edges_n1)
            self._want["edges"] = set(edges_n1)
        return checks.check_release(self.collect(), self._want, self.m["props"])

    def patches(self):
        def rec_counts(args, kwargs, rec):
            return {
                "inserts": rec.class_inserts_report.count(),
                "updates": rec.class_updates_report.count(),
                "obsoletes": obsolete_ids(args[0]).count(),
            }

        def publish_counts(args, kwargs, version):
            vdir = Path(self.store.root) / args[1] / f"v_{version}"
            files = list(vdir.rglob("*.parquet"))
            return {"bytes_written": sum(p.stat().st_size for p in files),
                    "rows": sum(pq.read_metadata(p).num_rows for p in files)}

        def report_rows(args, kwargs, paths):
            return {"rows": sum(max(0, len(Path(p).read_text().splitlines()) - 1)
                                for p in paths)}

        def useful(args, kwargs, result):
            prior = args[2].select("subject", "object")
            new = result.select("subject", "object")
            changed = prior.subtract(new).count() + new.subtract(prior).count()
            return {"changed": changed, "repinned": result.count()}

        pipe = "ontology_loader_spark.pipeline"
        stream = "ontology_loader_spark.streaming.closure"
        return [
            (pipe, "build_ontology_classes", "classes", None),
            (pipe, "ancestor_closure", "closure", _count("rows_out")),
            (pipe, "union_relations", "relations", _count("bag_rows")),
            (pipe, "attach_relations", "relations", None),
            ("ontology_loader_spark.controller", "reconcile", "reconcile", rec_counts),
            (self.store, "publish", "state", publish_counts),
            ("ontology_loader_spark.sinks.reports", "write_reports", "reports",
             report_rows),
            (self.maint, "process_batch", "maintainer", None),
            (stream, "incremental_closure_update", "closure_inc.add", useful),
            (stream, "incremental_closure_delete", "closure_inc.del", useful),
        ]


class TranscriptKG(Workload):
    """``pipeline.transcript_assertions`` over a seeded corpus."""

    inputs = ("transcripts", "mention_dict", "terms")
    trace_pairs = 3
    # the first passes are much slower than later ones (JIT, Python
    # worker start), so set-up warms up with several
    warmup_passes = 3

    def setup(self) -> None:
        for _ in range(self.warmup_passes):
            self.before_pass()
            self.run_pass(self.frames())

    def before_pass(self) -> None:
        self.result = None

    def run_pass(self, frames) -> None:
        rows = transcript_assertions(self.spark, frames["transcripts"],
                                     frames["mention_dict"], frames["terms"]).collect()
        self.result = {tuple(r) for r in rows}

    def check(self) -> list[str]:
        if self._want is None:
            self._want = checks.expected_assertions(self.m["sf_dir"])
        return checks.check_assertions(self.result or set(), self._want)

    def patches(self):
        def links_count(args, kwargs, result):
            return {"links": result.count(), "mentions": args[0].count()}

        mentions = "ontology_loader_spark.transcripts.mentions"
        uf = "ontology_loader_spark.transcripts.unionfind"
        return [
            (mentions, "detect_mentions", "mentions.detect", _count("rows_out")),
            (mentions, "top1_links", "mentions.link", links_count),
            (uf, "comention_pairs", "unionfind", _count("pairs")),
            (uf, "connected_components_dict_bounded", "unionfind", None),
            ("ontology_loader_spark.operators.redirects", "redirect_map", "redirects", None),
        ]


WORKLOADS = {
    "ontology_release": OntologyRelease,
    "transcript_kg": TranscriptKG,
}
