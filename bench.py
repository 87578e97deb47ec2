"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE compact JSON line (at most 1,000 chars):
  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
   "triples_per_sec": ..., "slowest": {name: sec, ... 10 gates},
   "gates_file": "BENCH/bench_sf<sf>_r<NN>.json", ...}
and writes every gate's time to ``gates_file``. ``NN`` is the round
after the newest ``BENCH_r<NN>.json``; the previous round's per-gate
file is the baseline of the per-gate delta on stderr.

Each query is materialized with the noop writer so every column and
every UDF actually executes (a bare count() would let Catalyst prune
the work away).

Timing methodology: each query runs $SPARK_GRAFT_BENCH_REPS times
(default 2) and reports the MINIMUM — the first rep pays one-off JIT
/ codegen-cache / page-cache costs that are not properties of the
plan, and on a shared single-node host the minimum is the standard
low-noise estimator (rep-to-rep spread on this host is 1.1-1.7x;
cross-round deltas under ~1.3x are noise, see
BENCH/r03_regression_recheck.md). Set SPARK_GRAFT_BENCH_REPS=1 for
the old cold-run behavior. The JSON carries `timing` + `wall_sec` so
the methodology and the true elapsed wall are both visible.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def free_persistent_rdds(spark) -> None:
    """Drop localCheckpoint/cache blocks left by the previous query.

    Each bench query is independent, but in one long-lived local JVM
    the checkpoint blocks of 50 queries accumulate in storage memory
    and the tail of the run pays their GC pressure — an artifact of
    benching many queries in one session, not of any single query's
    plan. Freeing between queries keeps per-query timings iid."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in jmap.values():
            rdd.unpersist()
    except Exception:
        pass  # benching continues unaffected if the internal API moves


ROOT = Path(__file__).resolve().parent


def summary_line(doc: dict) -> str:
    """The stdout line: ``doc`` without its per-gate table, plus the
    10 slowest gates — short enough for a 1,000-char log tail."""
    queries = doc["queries"]
    slowest = sorted(queries, key=queries.get, reverse=True)[:10]
    return json.dumps({**{k: v for k, v in doc.items() if k != "queries"},
                       "n_queries": len(queries),
                       "slowest": {k: queries[k] for k in slowest}})


def _rounds(prefix: str, folder: Path) -> list[tuple[int, Path]]:
    """``(NN, path)`` of the files ``<prefix>_r<NN>.json`` in ``folder``,
    oldest round first."""
    pattern = re.compile(re.escape(prefix) + r"_r(\d+)\.json")
    found = ((pattern.fullmatch(p.name), p) for p in folder.glob(f"{prefix}_r*.json"))
    return sorted((int(m.group(1)), p) for m, p in found if m)


def previous_queries(sf_label: str, this_round: int, names) -> tuple[str, dict]:
    """Per-gate seconds of the previous round: its per-gate file, else
    the newest ``BENCH_r<NN>.json`` record (``parsed``, or scraped from
    its stdout ``tail``, which was cut off in rounds 3-5)."""
    env = os.environ.get("SPARK_GRAFT_PREV_BENCH")
    if env:
        path = Path(env)
    else:
        own = [p for n, p in _rounds(f"bench_sf{sf_label}", ROOT / "BENCH") if n < this_round]
        recorded = [p for _, p in _rounds("BENCH", ROOT)]
        path = (own or recorded or [None])[-1]
    if path is None or not path.exists():
        return "", {}
    prev_doc = json.loads(path.read_text())
    if str(prev_doc.get("sf", sf_label)) != sf_label:  # another scale: no baseline
        return str(path), {}
    prev_q = (prev_doc.get("parsed") or prev_doc).get("queries", {})
    if not prev_q and isinstance(prev_doc.get("tail"), str):
        pairs = re.findall(r'"([a-z0-9_]+)": ([0-9]+\.[0-9]+)', prev_doc["tail"])
        prev_q = {k: float(v) for k, v in pairs if k in names}
    return str(path), prev_q


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    from ontology_loader_spark.session import get_spark

    import __spark_entry__ as entrymod
    from ontology_loader_spark.inputs import derive
    from ontology_loader_spark.pipeline import run_ontology_load, transcript_assertions

    spark = get_spark(
        "ontology-loader-spark-bench",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8)),
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/session once so the first timed query doesn't carry
    # executor+codegen init
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/part.parquet").count()
    # ... and warm the FLAGSHIP code path (whole-stage codegen classes,
    # broadcast machinery, iterative-closure driver loop) with one
    # untimed run at the smallest SF: the metric is steady-state
    # throughput — the 100 TB analog runs for hours, JVM warmup is
    # noise, and without this the first timed rep carries ~10s of JIT
    # (observed: isolated reps 20.0/9.2/9.0s at sf0.1)
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf):
        wtd = derive.derive_term_dict(spark, warm_sf)
        wed = derive.derive_edges(spark, warm_sf)
        _, wrec = run_ontology_load(wtd, wed, derive.ONT)
        wrec.relation_state.count()

    sf_label = sf_dir.rstrip("/").split("sf")[-1]

    qs = entrymod.queries()
    # every gate query is timed — regressions anywhere are visible in
    # the per-query delta section below (full_load is timed once, by
    # the flagship block above, not re-run as a gate)
    bench_queries = [q for q in qs if q != "full_load"]

    timings: dict[str, float] = {}
    wall_t0 = time.time()

    # Flagship: full ontology load (extraction + Q5 reconcile) — the
    # triples/sec metric source.
    n_triples = n_classes = 0
    flagship_times = []
    for rep in range(reps):
        free_persistent_rdds(spark)
        t0 = time.time()
        td = derive.derive_term_dict(spark, sf_dir)
        ed = derive.derive_edges(spark, sf_dir)
        ext, rec = run_ontology_load(td, ed, derive.ONT)
        n_triples = rec.relation_state.count()
        n_classes = rec.class_state.count()
        flagship_times.append(time.time() - t0)
    timings["full_load"] = min(flagship_times)
    log(
        f"full_load: {timings['full_load']:.2f}s (reps "
        f"{['%.2f' % t for t in flagship_times]}) triples={n_triples} "
        f"classes={n_classes}"
    )

    # Transcript KG front-end end-to-end (mentions -> links ->
    # union-find -> assertions).
    n_assertions = 0
    tk_times = []
    for rep in range(reps):
        free_persistent_rdds(spark)
        t0 = time.time()
        tr = derive.derive_transcripts(spark, sf_dir)
        md = derive.derive_mention_dict(spark, sf_dir)
        assertions = transcript_assertions(spark, tr, md, td)
        n_assertions = assertions.count()
        tk_times.append(time.time() - t0)
    timings["transcript_kg"] = min(tk_times)
    log(f"transcript_kg: {timings['transcript_kg']:.2f}s assertions={n_assertions}")

    for name in bench_queries:
        best = None
        for rep in range(reps):
            free_persistent_rdds(spark)
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            el = time.time() - t0
            best = el if best is None else min(best, el)
        timings[name] = best
        log(f"{name}: {timings[name]:.2f}s")

    total = sum(timings.values())
    wall_sec = time.time() - wall_t0
    triples_per_sec = n_triples / timings["full_load"] if timings["full_load"] else 0.0

    doc = {
        "metric": "kg_construction_bench_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf_label,
        "cpus": int(cpus),
        "timing": f"min_of_{reps}_reps",
        "wall_sec": round(wall_sec, 3),
        "triples": n_triples,
        "triples_per_sec": round(triples_per_sec, 1),
        "transcript_assertions": n_assertions,
    }
    this_round = max((n for n, _ in _rounds("BENCH", ROOT)), default=0) + 1
    gates_file = Path("BENCH") / f"bench_sf{sf_label}_r{this_round:02d}.json"

    # per-query delta vs the previous round (stderr only — the stdout
    # contract stays one JSON line)
    try:
        prev_path, prev_q = previous_queries(sf_label, this_round, timings)
    except (ValueError, OSError) as e:
        log(f"delta: could not read the previous round: {e}")
        prev_path, prev_q = "", {}
    if prev_path:
        log(f"delta baseline: {prev_path}")
    for k in sorted(set(timings) | set(prev_q)):
        now, was = timings.get(k), prev_q.get(k)
        if now is not None and was:
            log(f"delta {k}: {now:.2f}s vs {was:.2f}s ({now / was:.2f}x)")
        elif now is not None:
            log(f"delta {k}: {now:.2f}s (new)")
        else:
            log(f"delta {k}: dropped (was {was:.2f}s)")

    (ROOT / gates_file).write_text(json.dumps(doc, indent=1) + "\n")
    print(summary_line({**doc, "gates_file": str(gates_file)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
