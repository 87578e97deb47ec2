"""Spark jobs per layer of the ``ontology_release`` benchmark pass,
measured untraced: each pass runs under one job group, and every layer
entry point is wrapped to read the group's job ids on entry and exit,
so a layer owns the jobs started between the two (lazy frames a layer
returns are charged to the layer that runs them). Jobs outside every
layer — the pass's own input frame reads — are reported as ``inputs``.

Usage:
    python scripts/release_jobs.py [seed] [passes]
(defaults: seed 1, 3 passes). Prints one line per pass with the jobs
of each layer, the pass total and whether the pass output checked
correct. Generates the workload's inputs under a temporary directory
and removes it at the end.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

LAYERS = ("inputs", "extract", "reconcile", "publish", "reports", "maintainer")


def main() -> None:
    import ontology_loader_spark.controller as controller
    import ontology_loader_spark.sinks.reports as reports
    from ontology_loader_spark.session import get_spark
    from perfbench import gen
    from perfbench.run import SPARK_CORES, spark_confs
    from perfbench.workloads import OntologyRelease

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    work = Path(tempfile.mkdtemp(prefix="release_jobs_"))
    spark = get_spark("release-jobs", master=f"local[{SPARK_CORES}]",
                      extra_confs=spark_confs(work, False))
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        wl = OntologyRelease(spark, gen.generate("ontology_release", seed, work / "inputs"),
                             work)
        wl.setup()
        state = {"group": None, "counts": {}}

        def jobs() -> set[int]:
            return set(sc.statusTracker().getJobIdsForGroup(state["group"]))

        def wrap(owner, name: str, layer: str) -> None:
            fn = getattr(owner, name)

            def counted(*args, **kwargs):
                if state["group"] is None:
                    return fn(*args, **kwargs)
                before = jobs()
                try:
                    return fn(*args, **kwargs)
                finally:
                    counts = state["counts"]
                    counts[layer] = counts.get(layer, 0) + len(jobs() - before)

            setattr(owner, name, counted)

        wrap(controller, "extract", "extract")
        wrap(controller, "reconcile", "reconcile")
        wrap(wl.store, "publish", "publish")
        wrap(reports, "write_reports", "reports")
        wrap(wl.maint, "process_batch", "maintainer")

        print("pass " + " ".join(LAYERS) + " total correct")
        for i in range(passes):
            wl.before_pass()
            state["group"], state["counts"] = f"release-{i}", {}
            sc.setJobGroup(state["group"], state["group"])
            wl.run_pass(wl.frames())
            total = len(jobs())
            counts = state["counts"]
            counts["inputs"] = total - sum(counts.values())
            state["group"] = None
            sc.setJobGroup("check", "check")
            ok = not wl.check()
            print(f"{i} " + " ".join(str(counts.get(k, 0)) for k in LAYERS)
                  + f" {total} {ok}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
