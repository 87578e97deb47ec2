"""One semi-naive fixpoint loop with one Spark action per round.

Every set-growing hierarchy walk runs on :func:`semi_naive_fixpoint`:
the closure family (the frontier closure, the incremental add, the
reverse reach shared by add and delete), the ``(s, o)`` reach that
``transitive_reduction`` and ``cycle_members`` share with the frontier
closure (``operators/closure.py::_reach``), and ``term_depth``, which
reads ``born`` as the depth.
At gate scale a fixpoint is bound by its job count, not by data
movement. The whole state is re-pinned each round on purpose: a
growing union of pinned parts saves no job but runs more tasks.
"""

from __future__ import annotations

import logging
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

BORN = "born"


def pin_count(df: DataFrame, where: Column | None = None) -> tuple[DataFrame, int]:
    """Pin ``df`` with an eager ``localCheckpoint`` and return it with
    its row count — of the rows matching ``where`` when given — read
    from the checkpoint's own job through an Observation: one action
    where a checkpoint followed by ``count`` is two."""
    obs = Observation()
    n = F.count(F.lit(1) if where is None else F.when(where, 1))
    pinned = df.observe(obs, n.alias("n")).localCheckpoint(eager=True)
    return pinned, obs.get["n"]


def semi_naive_fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    keys: Iterable[str],
    *,
    max_iterations: int,
    op_name: str,
    known: DataFrame | None = None,
) -> DataFrame:
    """Least fixpoint of ``seed ∪ step(new rows)`` over ``keys``, minus
    the rows of ``known``, as one pinned ``(keys, born)`` frame: seed
    rows are born at 0, rows first reached in round r at r. Round r
    unions ``step(state.filter(born == r - 1))`` into the state,
    reduces it with one ``groupBy(keys).agg(min(born))`` and pins it;
    the round's new-row count is observed on that pin's job.

    ``step`` maps the frontier (last round's new rows: ``keys`` and
    ``born``) to candidate rows with the ``keys`` columns; duplicates
    and rows already in the state are absorbed by the reduction.
    ``known`` rows (a pinned frame, read every round) join the
    reduction at born -1 and are dropped before the pin: they are never
    stepped from, and the pin stays delta-sized however large ``known``
    is (an add batch's prior closure). Raises ``RuntimeError`` naming ``op_name`` when round
    ``max_iterations`` still produced new rows. Logs one DEBUG record
    per call with the round count and each round's new-row count
    (round 0 = seed)."""
    keys = list(keys)
    born = F.col(BORN)
    rows = seed.select(*keys, F.lit(0).alias(BORN))
    prior = None if known is None else known.select(*keys, F.lit(-1).alias(BORN))
    counts: list[int] = []
    while True:
        r = len(counts)
        if prior is not None:
            rows = prior.unionByName(rows)
        state = rows.groupBy(*keys).agg(F.min(BORN).alias(BORN)).filter(born >= 0)
        state, n = pin_count(state, born == r)
        counts.append(n)
        if not n:
            break
        if r == max_iterations:
            raise RuntimeError(
                f"{op_name} did not converge in {max_iterations} iterations "
                f"(new rows per round: {counts})"
            )
        stepped = step(state.filter(born == r)).select(*keys, F.lit(r + 1).alias(BORN))
        rows = state.unionByName(stepped)
    log.debug(
        "%s converged in %d rounds, new rows per round %s", op_name, r, counts,
        extra={"op_name": op_name, "rounds": r, "new_rows": counts},
    )
    return state
