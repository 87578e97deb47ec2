"""Measured sizing: iteration-state partition counts and the one
join-side rule.

Join sides: an operator that joins a dictionary-sized side (closure
pairs, depth tables, candidate-pair sets) against a corpus-sized probe
measures that side and broadcasts it up to ``BROADCAST_ROWS_MAX`` rows,
else hints ``shuffle_hash`` so the probe is never sorted for a
sort-merge join (the partitioned vs non-partitioned hash-join choice).
The same ceiling bounds what a dispatch collects to the driver (the
mention dictionary, union-find pairs). Every decision writes one DEBUG
record with ``op_name``, ``measured``, ``threshold`` and ``choice``.

Iteration state: driver-loop operators (ancestor closure, connected
components) keep a small-but-growing state DataFrame that is
re-shuffled every iteration.
A fixed ``coalesce(8)`` is right when the state is dictionary-bounded
(ontology pair tables) but caps parallelism — and risks executor OOM —
if the same operator is pointed at a corpus-scale graph (document-dedup
components). Derive the count from the observed row count instead:
roughly ``rows / rows_per_partition`` tasks, floored so tiny state
still gets a few tasks, capped at ``spark.sql.shuffle.partitions`` so
iteration state never exceeds the session's shuffle width.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count

log = logging.getLogger(__name__)

#: rows up to which a measured side is broadcast or collected to the
#: driver: a few tens of MB of id pairs, far over any dictionary-bounded
#: side (GO, ENVO) and far under an NCBITaxon-scale closure (50-75M pairs)
BROADCAST_ROWS_MAX = 2_000_000

#: target rows per iteration-state partition — small enough that a
#: partition of (string, string) pairs is a few tens of MB, large
#: enough that dictionary-scale state stays on single-digit task counts
ROWS_PER_STATE_PARTITION = 250_000


def state_partitions(
    spark: SparkSession,
    approx_rows: int,
    rows_per_partition: int = ROWS_PER_STATE_PARTITION,
    floor: int = 8,
) -> int:
    """Partition count for iteration state holding ``approx_rows`` rows."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ceiling = max(shuffle, floor)
    need = max(floor, math.ceil(max(approx_rows, 1) / rows_per_partition))
    return min(need, ceiling)


def record_decision(op_name: str, measured: int, threshold: int, choice: str) -> None:
    """Write a measured dispatch's DEBUG record."""
    log.debug("%s: measured %d, threshold %d -> %s", op_name, measured, threshold,
              choice, extra={"op_name": op_name, "measured": measured,
                             "threshold": threshold, "choice": choice})


def fits(
    op_name: str, measured: int, choices: tuple[str, str] = ("broadcast", "shuffle_hash")
) -> bool:
    """The one rule: is ``measured`` at most ``BROADCAST_ROWS_MAX``?
    Records ``choices[0]`` when it is, ``choices[1]`` when not."""
    ok = measured <= BROADCAST_ROWS_MAX
    record_decision(op_name, measured, BROADCAST_ROWS_MAX, choices[0 if ok else 1])
    return ok


def join_side(df: DataFrame, broadcast: bool) -> DataFrame:
    """``df`` as a join's build side: broadcast, or hinted
    ``shuffle_hash`` so the join never degrades to a sort-merge."""
    return F.broadcast(df) if broadcast else df.hint("shuffle_hash")


def pin_fits(df: DataFrame, op_name: str) -> tuple[DataFrame, bool]:
    """``df`` pinned, and :func:`fits` on its row count, read from the
    pin's own job."""
    pinned, n = pin_count(df)
    return pinned, fits(op_name, n)
