"""Cross-parallelism determinism probe (north-rule two-cluster-size
criterion): run a representative slice of the gate queries at TWO
parallelism levels on the same input and require bit-identical
sorted-row hashes. Catches batch-boundary-dependent UDFs, partition-
dependent sampling, and accumulation-order-dependent doubles — the
failure modes that make a job's OUTPUT depend on cluster size.

Each level runs in its own child process with its own Spark session
(a second session in one Python process breaks the first one's
accumulator server), and returns its hashes to the parent. The
streaming fixtures are staged once, in a child of their own, and both
levels replay the same files.

Writes BENCH/determinism.md. Usage:
    python scripts/check_parallelism_determinism.py [lo] [hi] [sf_dir]
(defaults: 2, 8, /root/testdata/sf0.01)
"""

from __future__ import annotations

import hashlib
import shutil
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime, timezone
from multiprocessing import get_context
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# one query per operator family: UDF paths, iterative fixpoints,
# windows, sampling, double arithmetic, unions, top-k
PROBE_QUERIES = [
    "full_load",
    "mention_detection",            # Arrow UDF — batch-boundary risk
    "mention_ancestors",
    "incremental_closure_delete",   # driver-loop fixpoints
    "union_find",
    "shuffle_order",                # rank assignment across partitions
    "stratified_sample",            # hash sampling
    "bm25_topk",                    # double scores + rank ties
    "quality_percentile",
    "dedup_clusters",
    "ann_ivf_topk",                 # trained k-means
    "semantic_dedup",               # k-means cells + md5 candidate cap
    "corpus_prep_containment",
    "cycle_members",                # trim + exact closure fixpoints
    "term_depth",                   # BFS settled-at-first-reach
    "key_skew_profile",             # top-k ties + integral shares
    "ntriples_export",              # string rendering, union order
    "term_lca",                     # two-phase argmax + min-id ties
    "conv_entity_profile",          # Arrow detection + depth left join
    "conversation_dedup",           # LSH buckets over reassembled convs
    "mention_timeline",             # Arrow passthrough batch boundaries
    "term_similarity_ic",           # shared-closure composite
    "term_jaccard",                 # set-count ratios
    "turn_context",                 # per-conv lag windows
    "turn_transitions",             # NTZ latency aggregates
    "linked_mentions_canonical",    # redirect fixpoint + Arrow detection
    "triple_provenance",            # ts through Arrow batch + argmax ties
    "negative_sampling",            # md5-ranked picks over window ranks
    "kcore_terms",                  # iterative peeling fixpoint
    "transitive_reduction",         # reachability fixpoint + anti-join
    "term_path_to_root",            # bounded functional chain walk
    # streaming dialogue twin: conversation-bucketed fixture replay;
    # the gate callable stages its own content-fingerprinted fixture,
    # shared by both levels
    "streaming_turn_transitions",
]


def stage_fixtures(sf_dir: str) -> dict[str, str]:
    """Stage the streaming sources both levels replay, once:

    - ``events``: FileStreamSource needs a directory, so the single-file
      events table becomes a multi-file, ts-RANGE-ordered copy (part-00000
      = earliest window, one file per trigger). The streaming as-of
      contract is batch equality under ts-ordered delivery
      (streaming/stateful.py::_asof_advance), so the replay must be an
      ordered event log; what still varies between levels is exactly
      what the probe is for — Arrow batch boundaries, shuffle width, and
      state partition count.
    - ``transcripts``: derived transcripts as 6 conv-range parts. Unlike
      the as-of twin, conversation stats carry NO delivery-order
      contract — every emission is the batch answer over whatever
      arrived — so any split works; staging it once makes both levels
      read the identical one.

    Returns the two source directories."""
    import glob
    import os
    import time

    from ontology_loader_spark.inputs import derive
    from ontology_loader_spark.session import get_spark

    spark = get_spark("determinism-stage", master="local[2]",
                      extra_confs={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    events = tempfile.mkdtemp(prefix="det_events_src_") + "/src"
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .repartitionByRange(8, "ts", "event_id")
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(events)
    )
    # FileStreamSource orders pending files by modification time: pin
    # ascending mtimes on the range-ordered parts so the replay sequence
    # is deterministic (ties would leave it to listing accidents)
    base = time.time() - 1000
    for i, f in enumerate(sorted(glob.glob(f"{events}/part-*.parquet"))):
        os.utime(f, (base + i, base + i))
    transcripts = tempfile.mkdtemp(prefix="det_conv_src_") + "/src"
    (
        derive.derive_transcripts(spark, sf_dir)
        .repartitionByRange(6, "conv_id", "turn_idx", "text")
        .sortWithinPartitions("conv_id", "turn_idx", "text")
        .write.mode("overwrite")
        .parquet(transcripts)
    )
    spark.stop()
    return {"events": events, "transcripts": transcripts}


def _replay(spark, src: str):
    """One staged source as a file stream, one file per trigger."""
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _stream_asof(spark, sf_dir: str, staged: dict, ckpt: str):
    from ontology_loader_spark.streaming.stateful import asof_join_stream

    stream = _replay(spark, staged["events"])
    name = f"asof_probe_{abs(hash(ckpt)) % 10**8}"
    q = (
        asof_join_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{ckpt}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise RuntimeError(f"stream {name} did not end within 300 s")
    return spark.sql(f"select * from {name}")


def _stream_winsor(spark, sf_dir: str, staged: dict, ckpt: str):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ontology_loader_spark.streaming.stateful import winsorized_stats_stream

    stream = _replay(spark, staged["events"])
    name = f"winsor_probe_{abs(hash(ckpt)) % 10**8}"
    q = (
        winsorized_stats_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{ckpt}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise RuntimeError(f"stream {name} did not end within 300 s")
    # final emission per type (n_events grows monotonically)
    emitted = spark.sql(f"select * from {name}")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _stream_conv_stats(spark, sf_dir: str, staged: dict, ckpt: str):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ontology_loader_spark.streaming.stateful import (
        conversation_stats_stream,
    )

    stream = _replay(spark, staged["transcripts"])
    name = f"convstats_probe_{abs(hash(ckpt)) % 10**8}"
    q = (
        conversation_stats_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{ckpt}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise RuntimeError(f"stream {name} did not end within 300 s")
    emitted = spark.sql(f"select * from {name}")
    w = Window.partitionBy("conv_id").orderBy(F.desc("n_turns"))
    return (
        emitted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# streaming twins: batch-boundary-sensitive state transitions; the
# emitted END STATE must be identical at any parallelism (the same
# two-cluster-size criterion as the batch probes)
def _stream_edge_cdc_replay(spark, sf_dir: str, staged: dict, ckpt: str):
    """The one remaining order-sensitive streaming composite: the
    4-batch edge-CDC replay's FINAL closure must be bit-identical at
    any parallelism (adds, duplicate replays, deletes and re-adds all
    fold into one net edge set per batch whatever the partitioning).
    The fixture is content-fingerprinted and shared by both levels;
    replay_edge_cdc manages its own throwaway checkpoint."""
    from pathlib import Path as _P

    from ontology_loader_spark.inputs import derive
    from ontology_loader_spark.operators.closure import relevant_entities
    from ontology_loader_spark.streaming.closure import (
        replay_edge_cdc,
        write_edge_cdc_fixture,
    )

    ed = derive.derive_edges(spark, sf_dir)
    td = derive.derive_term_dict(spark, sf_dir)
    cdc = write_edge_cdc_fixture(
        spark,
        ed,
        str(
            _P(__file__).resolve().parent.parent
            / ".fixtures"
            / "edge_cdc"
            / _P(sf_dir).name
        ),
    )
    m = replay_edge_cdc(spark, relevant_entities(td, derive.ONT), derive.ONT, cdc)
    return m.closure


STREAM_PROBES = {
    "asof_join_stream": _stream_asof,
    "winsorized_stats_stream": _stream_winsor,
    "conversation_stats_stream": _stream_conv_stats,
    "replay_edge_cdc": _stream_edge_cdc_replay,
}


def run_level(cpus: int, sf_dir: str, staged: dict, names: list[str]) -> dict[str, str]:
    from ontology_loader_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        f"determinism-{cpus}",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.sql.shuffle.partitions": str(max(cpus * 2, 4)),
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out: dict[str, str] = {}

    def _hash(df) -> str:
        cols = sorted(df.columns)
        rows = sorted(
            "\x01".join("NULL" if r[c] is None else repr(r[c]) for c in cols)
            for r in df.collect()
        )
        h = hashlib.sha256()
        for line in rows:
            h.update(line.encode())
            h.update(b"\n")
        return f"{len(rows)}:{h.hexdigest()}"

    # the stream checkpoints of this level, removed when it ends
    ckpt_root = tempfile.mkdtemp(prefix=f"det_level_{cpus}_")
    for name in names:
        if name in STREAM_PROBES:
            ckpt = tempfile.mkdtemp(prefix=f"{name}_", dir=ckpt_root)
            df = STREAM_PROBES[name](spark, sf_dir, staged, ckpt)
        else:
            df = qs[name](spark, sf_dir)
        out[name] = _hash(df)
        print(f"  local[{cpus}] {name}: {out[name][:24]}...", file=sys.stderr)
    spark.stop()
    shutil.rmtree(ckpt_root, ignore_errors=True)
    return out


def in_child(fn, *args):
    """``fn(*args)`` in a fresh spawned process; returns its result."""
    with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
        return pool.submit(fn, *args).result()


def main() -> None:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"

    probes = PROBE_QUERIES + list(STREAM_PROBES)
    staged = in_child(stage_fixtures, sf_dir)
    try:
        a = in_child(run_level, lo, sf_dir, staged, probes)
        b = in_child(run_level, hi, sf_dir, staged, probes)
    finally:
        for src in staged.values():
            shutil.rmtree(Path(src).parent, ignore_errors=True)
    mismatches = [q for q in probes if a[q] != b[q]]

    lines = [
        "# Cross-parallelism determinism",
        "",
        f"Generated {datetime.now(timezone.utc).isoformat(timespec='seconds')} "
        f"by scripts/check_parallelism_determinism.py at {sf_dir}.",
        "",
        f"Every probed query ran at `local[{lo}]` and `local[{hi}]` "
        "(different task counts, shuffle widths, and Arrow batch "
        "boundaries) and must produce a bit-identical sorted-row "
        "sha256 — the output-level half of the north rule's "
        "two-cluster-size criterion (the throughput half lives in "
        "BASELINE.md).",
        "",
        "| query | rows | identical |",
        "|---|---|---|",
    ]
    for q in probes:
        rows = a[q].split(":", 1)[0]
        lines.append(f"| {q} | {rows} | {'yes' if a[q] == b[q] else 'NO'} |")
    lines.append("")
    lines.append(
        f"**{len(probes) - len(mismatches)}/{len(probes)} "
        "identical.**"
        + ("" if not mismatches else f" MISMATCHES: {mismatches}")
    )
    Path(__file__).resolve().parent.parent.joinpath(
        "BENCH", "determinism.md"
    ).write_text("\n".join(lines) + "\n")
    print("\n".join(lines[-3:]))
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
