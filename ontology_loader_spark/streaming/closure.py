"""Streaming KG maintenance: an edge CDC stream drives the closure,
micro-batch by micro-batch.

The north-star job is a LONG-LIVED pipeline: ontology releases and
transcript-derived assertions arrive continuously, and the entailment
closure that downstream retrieval joins against must track them. This
module is the streaming shell around the closure operators
(``operators/closure.py``): a ``foreachBatch`` sink folds each
micro-batch of edge operations into (edges, closure) state. The closure
depends only on the edge set, so a batch first becomes ONE net edge set.
At most ``LOCAL_CLOSURE_EDGES_MAX`` distinct hierarchy pairs, its
closure is solved once, in one task; above that ceiling the net delta
goes through ``incremental_closure_update`` / ``_delete``, O(delta cone).

Why foreachBatch and not a stateful operator: the closure is a JOINED,
ITERATED product of the whole edge set — not per-key foldable state —
so the correct streaming form is exactly Spark's recommended
"incremental batch view maintenance inside foreachBatch", with the
state as checkpointed DataFrames (``localCheckpoint`` here; a table in
production — swap ``_pin`` for a write/read of your store).

Batch semantics: within one micro-batch, ``add`` rows apply first,
then ``delete`` rows (a CDC batch that both adds and deletes the same
edge therefore nets to deleted — matching reconcile's Q5
delete-after-upsert discipline). Duplicate adds of existing edges and
deletes of absent edges are no-ops by construction: the net edge set is
``(edges ∪ adds) − deletes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count
from ontology_loader_spark.operators.closure import (
    _closure_local,
    _local,
    ancestor_closure,
    hierarchy_pairs,
    incremental_closure_delete,
    incremental_closure_update,
)
from ontology_loader_spark.schemas import DEFAULT_PREDICATES

EDGE_KEY = ["subject", "predicate", "object"]


def _pin(df: DataFrame) -> DataFrame:
    """State pin between micro-batches — localCheckpoint in the
    sandbox; production swaps this for a versioned-table write+read
    (``sinks/state.py``) so a restart resumes from the last batch."""
    return df.localCheckpoint(eager=True)


class StreamingClosureMaintainer:
    """Fold edge-op micro-batches into (edges, closure) state.

    ``process_batch`` is directly usable as a ``foreachBatch``
    callback: ``stream.writeStream.foreachBatch(m.process_batch)``.
    Input rows: (subject, predicate, object[, op]) — ``op`` defaults
    to ``add``; ``delete`` removes the exact (s, p, o) triple.
    """

    def __init__(
        self,
        spark: SparkSession,
        relevant: DataFrame,
        ontology: str,
        predicates: tuple[str, ...] = DEFAULT_PREDICATES,
    ) -> None:
        self.spark = spark
        self.ontology = ontology
        self.predicates = predicates
        self.relevant = _pin(relevant)
        empty = spark.createDataFrame(
            [], "subject string, predicate string, object string"
        )
        self.edges = _pin(empty)
        # reflexive seed: every relevant entity reaches itself (Q1)
        self.closure = _pin(
            ancestor_closure(empty, self.relevant, ontology, predicates)
        )
        self.batches_applied = 0

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Pin the net edge set ``(edges ∪ adds) − deletes`` once and count
        its distinct hierarchy pairs: at most ``LOCAL_CLOSURE_EDGES_MAX``,
        solve its closure once, in one task; above, apply the net adds
        (new − old), then the net deletes (old − new), incrementally."""
        op = F.col("op") if "op" in batch_df.columns else F.lit("add")
        new_edges = _pin(
            self.edges.withColumn("op", F.lit("add"))
            .unionByName(batch_df.select(*EDGE_KEY, op.alias("op")))
            .groupBy(*EDGE_KEY)
            .agg(F.bool_or(F.col("op") == "add").alias("a"),
                 F.bool_or(F.col("op") == "delete").alias("d"))
            .filter("a AND NOT d")
            .select(*EDGE_KEY)
        )
        hedges, n_hedges = hierarchy_pairs(new_edges, self.predicates)
        if _local("StreamingClosureMaintainer", n_hedges):
            self.closure = _pin(_closure_local(hedges, self.relevant, self.ontology))
        else:
            old = self.edges
            adds, n_adds = pin_count(new_edges.join(old, EDGE_KEY, "left_anti"))
            dels, n_dels = pin_count(old.join(new_edges, EDGE_KEY, "left_anti"))
            if n_adds:
                self.closure = _pin(incremental_closure_update(
                    old, adds, self.closure, self.relevant, self.ontology, self.predicates))
            if n_dels:
                self.closure = _pin(incremental_closure_delete(
                    old.unionByName(adds), dels, self.closure, self.relevant,
                    self.ontology, self.predicates))
        self.edges = new_edges
        self.batches_applied += 1


def write_edge_cdc_fixture(spark: SparkSession, edges: DataFrame, out_dir: str) -> str:
    """Render an edge set as a deterministic 4-file CDC replay whose NET
    state is exactly ``edges`` — the driver-gate fixture for the
    streaming maintainer (same re-encode-then-read-back argument as the
    obograph/semsql ingest gates, ``inputs/ingest.py``):

      f0  add  ~96% of the edges (crc32 split)
      f1  add  the remaining ~4%, plus replays of edges already in f0
               (idempotence under CDC duplicate delivery)
      f2  delete  a ~2.5% crc32-selected subset (real DRed cone work)
      f3  add  that same subset back (net zero churn)

    Files carry pinned ascending mtimes (FileStreamSource orders by
    mtime), fixed absolute epochs so a pre-existing staging survives
    process restarts unchanged; staging is skipped only when all four
    files exist AND the staged content fingerprint matches the current
    edge set (count + xor of per-edge crc32s, order-independent) — a
    regenerated sf-dir or a derive-logic change under the same path
    restages rather than replaying a stale CDC log. The split/churn
    selectors are content hashes — no RNG, no row-order dependence."""
    import os
    from pathlib import Path

    out = Path(out_dir)
    files = [out / f"f{i}.parquet" for i in range(4)]
    key = F.crc32(F.concat_ws("|", *EDGE_KEY))
    fp_row = (
        edges.select(key.alias("_k"))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(_k)").alias("x"))
        .first()
    )
    fingerprint = f"{fp_row['n']}:{fp_row['x']}"
    fp_file = out / "_FINGERPRINT"  # _-prefixed: invisible to Spark file listing
    if (
        all(f.exists() for f in files)
        and fp_file.exists()
        and fp_file.read_text() == fingerprint
    ):
        return str(out)
    for stale in [*files, fp_file]:
        if stale.exists():
            stale.unlink()
    out.mkdir(parents=True, exist_ok=True)

    e = edges.select(*EDGE_KEY).withColumn("_k", key)
    batches = [
        e.filter(F.col("_k") % 29 != 0).drop("_k")
        .withColumn("op", F.lit("add")),
        # remainder + replays of already-delivered edges
        e.filter(F.col("_k") % 29 == 0).drop("_k")
        .unionByName(e.filter(F.col("_k") % 97 == 1).drop("_k"))
        .withColumn("op", F.lit("add")),
        e.filter(F.col("_k") % 41 == 0).drop("_k")
        .withColumn("op", F.lit("delete")),
        e.filter(F.col("_k") % 41 == 0).drop("_k")
        .withColumn("op", F.lit("add")),
    ]
    base = 1_000_000_000  # fixed epoch; only the ordering matters
    for i, b in enumerate(batches):
        tmp = out / f"_stage{i}"
        b.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        part.rename(files[i])
        for junk in tmp.glob("*"):
            junk.unlink()
        tmp.rmdir()
        os.utime(files[i], (base + i, base + i))
    fp_file.write_text(fingerprint)
    return str(out)


def replay_edge_cdc(
    spark: SparkSession,
    relevant: DataFrame,
    ontology: str,
    cdc_dir: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> StreamingClosureMaintainer:
    """Run an availableNow file-stream over ``cdc_dir`` through a fresh
    :class:`StreamingClosureMaintainer` (one file per micro-batch) and
    return the maintainer with its final (edges, closure) state. The
    checkpoint is a throwaway tempdir: the maintainer's state lives in
    this process, so a replay must always start from offset zero."""
    import shutil
    import tempfile

    m = StreamingClosureMaintainer(spark, relevant, ontology, predicates)
    ckpt = tempfile.mkdtemp(prefix="edge_cdc_ckpt_")
    try:
        q = (
            stream_edge_ops(spark, cdc_dir)
            .writeStream.foreachBatch(m.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False on timeout with the
        # query still running — partial (edges, closure) state must
        # never masquerade as the final replay, so stop and raise.
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "edge CDC replay did not drain within 600s; "
                f"state is partial after {m.batches_applied} batches"
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return m


def stream_edge_ops(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Parquet-directory CDC source of (subject, predicate, object, op)
    rows — one file per micro-batch by default, the ordered-replay
    shape the maintainer is tested under."""
    schema = "subject string, predicate string, object string, op string"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
