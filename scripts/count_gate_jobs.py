"""Spark jobs and wall time per gate call: each named ``queries()``
entry runs twice under its own job group on one ``local[4]`` session
(the result collected), and the second, warm rep is reported as read
back with ``statusTracker().getJobIdsForGroup``.

Usage:
    python scripts/count_gate_jobs.py <sf_dir> <gate> [<gate> ...]
Prints one ``gate jobs wall_s rows`` line per gate.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    import __spark_entry__ as entrymod
    from ontology_loader_spark.session import get_spark

    sf_dir, gates = sys.argv[1], sys.argv[2:]
    spark = get_spark("gate-jobs", master="local[4]")
    sc = spark.sparkContext
    qs = entrymod.queries()
    print("gate jobs wall_s rows")
    for name in gates:
        for rep in range(2):
            group = f"{name}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            n_rows = len(qs[name](spark, sf_dir).collect())
            wall = time.time() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"{name} {jobs} {wall:.1f} {n_rows}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
