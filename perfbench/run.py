"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed (not timed), starts a local Spark session, sets up (``setup_s``),
then runs closed-loop passes (one caller) for ``--seconds`` and checks
every pass's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Fuller detail goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

try:
    import pyspark  # noqa: F401

    import ontology_loader_spark  # noqa: F401
except ImportError as exc:
    print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
    sys.exit(2)

from perfbench import gen, metrics  # noqa: E402

SPARK_CORES = min(4, os.cpu_count() or 1)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_confs(work: Path, trace: bool) -> dict[str, str]:
    """Benchmark-only session settings: sized for the small inputs,
    every file Spark writes kept inside the work directory, and the
    event log (uncompressed, one file) only in the traced run."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    confs = {
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(2 * SPARK_CORES),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def descendants(pid: int) -> set[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p.name))
    out, stack = set(), [pid]
    while stack:
        for k in kids.get(stack.pop(), ()):
            out.add(k)
            stack.append(k)
    return out


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and its live
    descendants, including children they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in {os.getpid(), *descendants(os.getpid())}:
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(f) for f in fields[11:15])   # utime stime cutime cstime
    return total / tick


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process and its
    live descendants (JVM, Python workers)."""
    total_kb = 0
    for pid in {os.getpid(), *descendants(os.getpid())}:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process started under this one has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - fall through to kill below
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in procs):
        time.sleep(0.1)
    for p in procs:
        if Path(f"/proc/{p}").exists():
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def run(args) -> dict:
    from ontology_loader_spark.session import get_spark

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = ROOT / ".perfbench" / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    os.environ["TMPDIR"] = str(work / "tmp")   # Python workers inherit it

    t = time.perf_counter()
    manifest = gen.generate(args.workload, args.seed, work / "inputs")
    gen_s = time.perf_counter() - t
    log(f"generated inputs in {gen_s:.2f}s: {manifest['props']}")

    # ---- setup_s: session up, inputs registered, prior state, warm-up
    t_setup, cpu_setup = time.perf_counter(), tree_cpu_seconds()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{SPARK_CORES}]",
                      extra_confs=spark_confs(work, bool(args.trace)))
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "gen_s": gen_s, "inputs": manifest["props"], "passes": []}
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setJobGroup("setup", "setup")
        wl = WORKLOADS[args.workload](spark, manifest, work)
        wl.setup()
        setup_s = tree_cpu_seconds() - cpu_setup
        detail["setup_wall_s"] = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f} cpu-s, {detail['setup_wall_s']:.2f}s wall")

        tracer = Tracer(sc)
        measured, i = 0.0, 0
        # passes run until their timed seconds (resets and checks not
        # counted) reach --seconds. The traced run starts with a plain
        # pass that finishes the warm-up, then alternates plain and
        # traced passes, each after the same reset, and ends on a whole
        # pair: the pairs' differences are the tracing overhead
        pairs = wl.trace_pairs if args.trace else 0
        while measured < args.seconds or i < 1 + 2 * pairs or (args.trace and i % 2 == 0):
            rec = run_pass(wl, sc, tracer, i, traced=bool(args.trace) and i > 0 and i % 2 == 0)
            detail["passes"].append(rec)
            measured += rec.get("s", 0.0)
            i += 1
        if args.trace:
            detail["peak_rss_mb"] = peak_rss_mb()
    finally:
        stop_spark(spark)

    if args.trace:
        from perfbench.trace import find_event_log, parse_event_log
        jobs, intervals = parse_event_log(find_event_log(work / "eventlog"))
        out = metrics.per_layer(detail, tracer.spans, jobs, intervals)
    else:
        out = metrics.end_to_end(detail, setup_s, wl.rows_per_pass)
    shutil.rmtree(work, ignore_errors=True)
    return out | {"detail": detail}


def run_pass(wl, sc, tracer, i: int, traced: bool) -> dict:
    rec = {"i": i, "traced": traced}
    group = f"pass-{i}"
    t = time.perf_counter()
    try:
        wl.before_pass()
        cpu = tree_cpu_seconds()
        t = time.perf_counter()
        if traced:
            with tracer.span("pass") as root, tracer.patched(wl.patches()):
                rec["span"] = root.sid
                with tracer.span("inputs") as sp:
                    frames = {k: v.localCheckpoint(eager=True)
                              for k, v in wl.frames().items()}
                with tracer.aux():
                    sp.counts["rows"] = sum(f.count() for f in frames.values())
                wl.run_pass(frames)
        else:
            sc.setJobGroup(group, group)
            wl.run_pass(wl.frames())
        rec["s"] = time.perf_counter() - t
        rec["cpu_s"] = tree_cpu_seconds() - cpu
        if not traced:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("check", "check")
        rec["errors"] = wl.check()
    except Exception:  # noqa: BLE001 - a raising pass is a failed pass
        rec["errors"] = [traceback.format_exc(limit=8)]
        rec.setdefault("s", time.perf_counter() - t)
    if rec["errors"]:
        log(f"pass {i} FAILED: {rec['errors'][0][:2000]}")
    else:
        log(f"pass {i} {'traced ' if traced else ''}{rec['s']:.3f}s "
            f"{rec['cpu_s']:.2f} cpu-s jobs={rec.get('jobs', '-')}")
    return rec


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out = run(args)
    detail = out.pop("detail")
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**out, "detail": detail}, indent=1, default=str))
    print(json.dumps(out, separators=(",", ":"), allow_nan=False), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
