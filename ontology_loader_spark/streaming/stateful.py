"""Custom stateful streaming operator: per-conversation running state
via ``applyInPandasWithState`` (the brief's "applyInPandasWithState for
custom stateful operators").

``conversation_progress`` tracks, per conv_id, the number of turns seen
and the highest contiguous turn_idx prefix (i.e., "how much of the
conversation can be replayed in order so far") — the streaming twin of
the batch turn-ordering invariant. State is a compact (count, seen-set
frontier) tuple; memory per key is bounded because conversations are
bounded (~200 turns), and every conversation seen keeps its key for the
life of the query. There is no state timeout: a processing-time
timeout makes Spark schedule empty no-data batches forever, so an
``availableNow`` query would never end on its own.

At production scale the groupBy(conv_id) state shuffles once per
micro-batch on the same key the batch pipeline uses — no separate
partitioning scheme to maintain.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PROGRESS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns_seen", IntegerType(), False),
        StructField("contiguous_prefix", IntegerType(), False),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_seen", IntegerType(), True),
        StructField("seen_idxs", StringType(), True),  # csv of pending idxs
        StructField("prefix", IntegerType(), True),
    ]
)


def _advance(
    stored: Tuple[int, str, str] | None, idxs
) -> Tuple[int, str, int]:
    """The pure state transition of ``conversation_progress``: fold a
    batch of turn indexes into (n_seen, pending-csv, contiguous prefix).
    Kept free of the streaming API so its semantics are pinned
    directly by test."""
    if stored is not None:
        n_seen, seen_csv, prefix = stored
        pending = set(int(x) for x in seen_csv.split(",") if x != "")
    else:
        n_seen, pending, prefix = 0, set(), 0
    for idx in idxs:
        n_seen += 1
        pending.add(int(idx))
    # advance the contiguous prefix over newly-filled gaps
    while prefix in pending:
        pending.discard(prefix)
        prefix += 1
    return n_seen, ",".join(str(i) for i in sorted(pending)), prefix


def _progress_row(key, n_seen: int, prefix: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [key[0]],
            "n_turns_seen": pd.Series([n_seen], dtype="int32"),
            "contiguous_prefix": pd.Series([prefix], dtype="int32"),
        }
    )


def _update(
    key: Tuple[str], pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    stored = tuple(state.get) if state.exists else None
    idxs = [idx for pdf in pdf_iter for idx in pdf["turn_idx"]]
    n_seen, pending_csv, prefix = _advance(stored, idxs)
    state.update((n_seen, pending_csv, prefix))
    yield _progress_row(key, n_seen, prefix)


def conversation_progress(stream: DataFrame) -> DataFrame:
    """Streaming per-conversation progress tracker (update mode)."""
    return (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=PROGRESS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ASOF_OUT_SCHEMA = StructType(
    [
        StructField("l_event_id", LongType(), False),
        StructField("user_id", LongType(), False),
        StructField("l_ts", TimestampType(), False),
        StructField("l_value", DoubleType(), True),
        StructField("r_event_id", LongType(), True),
        StructField("r_value", DoubleType(), True),
    ]
)

# best right event seen so far: (ts in epoch micros, event_id, value)
ASOF_STATE_SCHEMA = StructType(
    [
        StructField("r_ts_us", LongType(), True),
        StructField("r_event_id", LongType(), True),
        StructField("r_value", DoubleType(), True),
    ]
)


def _asof_advance(stored, rows):
    """Pure per-user transition of the streaming as-of join: fold a
    micro-batch of (ts_us, side, event_id, value) rows — side 0 =
    right/quote stream, 1 = left/probe stream — into (new_state,
    emitted_left_matches). Rows are processed in (ts, side, event_id)
    order, the exact order the batch operator's window uses, so rights
    at a left's own ts match (inclusive bound) and the max event_id
    wins ties.

    State is ONE row — the best (ts, event_id) right seen so far —
    which is the full as-of state whenever per-user arrival is
    ts-monotone ACROSS micro-batches (the event-log case; in-batch
    disorder is repaired by the sort). A left older than the stored
    right emits NULL rather than a wrong match; retro-matching
    arbitrarily late rights would need unbounded per-user history,
    the trade every streaming as-of makes."""
    best = stored if stored is not None and stored[0] is not None else None
    out = []
    for ts_us, side, event_id, value in sorted(rows):
        if side == 0:
            if best is None or (ts_us, event_id) > (best[0], best[1]):
                best = (ts_us, event_id, value)
        else:
            if best is not None and best[0] <= ts_us:
                out.append((event_id, ts_us, value, best[1], best[2]))
            else:
                out.append((event_id, ts_us, value, None, None))
    return best, out


def _asof_update(
    key: Tuple[int], pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    stored = tuple(state.get) if state.exists else None
    rows = []
    for pdf in pdf_iter:
        ts_us = pdf["ts"].astype("int64") // 1000
        for t, s, e, v in zip(ts_us, pdf["side"], pdf["event_id"], pdf["value"]):
            rows.append((int(t), int(s), int(e), float(v)))
    best, out = _asof_advance(stored, rows)
    if best is not None:
        state.update(best)
    if out:
        yield pd.DataFrame(
            {
                "l_event_id": pd.Series([o[0] for o in out], dtype="int64"),
                "user_id": pd.Series([key[0]] * len(out), dtype="int64"),
                "l_ts": pd.to_datetime([o[1] for o in out], unit="us"),
                "l_value": pd.Series([o[2] for o in out], dtype="float64"),
                "r_event_id": pd.Series([o[3] for o in out], dtype="Int64"),
                "r_value": pd.Series([o[4] for o in out], dtype="float64"),
            }
        )


def asof_join_stream(
    stream: DataFrame, left_type: str = "click", right_type: str = "view"
) -> DataFrame:
    """Streaming twin of the batch ``asof_join`` operator
    (``operators/events.py:241``): per user, each ``left_type`` event
    is matched to the most recent ``right_type`` event with
    ``r.ts <= l.ts`` (inclusive, max event_id on ties). Same output
    schema as the batch form.

    One ``applyInPandasWithState`` keyed on user_id — the same
    partitioning key the batch window uses, so the plan is one shuffle
    per micro-batch and O(1) state per user (the single best right
    row, NOT a buffer of the stream). Equality with the batch operator
    under ts-ordered micro-batch delivery is pinned by test via the
    shared :func:`_asof_advance` transition.

    State bound: one row per user ever seen, kept for the life of the
    query. There is no state timeout — a processing-time timeout makes
    Spark schedule empty no-data batches forever, so an
    ``availableNow`` query would never end on its own. Evicting idle
    users needs an event-time watermark (and a rule for a left that
    arrives after its user's eviction), which this operator does not
    take."""
    sided = stream.filter(
        F.col("event_type").isin(left_type, right_type)
    ).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == right_type, F.lit(0))
        .otherwise(F.lit(1))
        .alias("side"),
        "event_id",
        "value",
    )
    return sided.groupBy("user_id").applyInPandasWithState(
        _asof_update,
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------- streaming winsorized stats

WINSOR_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("n_events", LongType(), False),
        StructField("sum_value_cents", LongType(), False),
        StructField("sum_winsorized_cents", LongType(), False),
        StructField("p_cutoff_cents", LongType(), False),
    ]
)

# per-type exact cent histogram — the SAME sufficient statistic the
# batch histogram-CDF uses, carried as parallel (cents, counts) arrays
WINSOR_STATE_SCHEMA = StructType(
    [
        StructField("cents", ArrayType(LongType()), True),
        StructField("cnts", ArrayType(LongType()), True),
    ]
)


def _winsor_advance(stored, new_cents, pct):
    """Pure per-type transition of the streaming winsorized stats:
    merge a micro-batch's integer-cent values into the stored
    histogram, then recompute the EXACT batch answer over the whole
    prefix — cutoff = min cents with cum·100 ≥ pct·n, winsorized sum =
    Σ min(c, cutoff)·cnt. Because the histogram (not a running clip)
    is the state, the cutoff re-clips ALL history every batch: the
    emission equals the batch operator on the stream prefix exactly,
    which no fixed-cutoff running winsorization can achieve.

    ``stored``: (cents_list, cnts_list) or None. Returns
    (new_stored, (n, sum_cents, sum_winsorized, cutoff))."""
    hist: dict = (
        dict(zip(stored[0], stored[1])) if stored is not None else {}
    )
    for c in new_cents:
        hist[c] = hist.get(c, 0) + 1
    n = sum(hist.values())
    cum = 0
    cutoff = None
    for c in sorted(hist):
        cum += hist[c]
        if cutoff is None and cum * 100 >= pct * n:
            cutoff = c
    sum_cents = sum(c * k for c, k in hist.items())
    sum_w = sum(min(c, cutoff) * k for c, k in hist.items())
    keys = sorted(hist)
    return (keys, [hist[c] for c in keys]), (n, sum_cents, sum_w, cutoff)


def winsorized_stats_stream(events: DataFrame, pct: int | None = None) -> DataFrame:
    """Streaming twin of the batch ``winsorized_stats``
    (``operators/events.py:430``): per event type, running
    (n_events, sum_value_cents, sum_winsorized_cents, p_cutoff_cents)
    where the tail clip uses the type's own exact p``pct`` over
    EVERYTHING seen so far.

    State = the per-type integer-cent histogram — bounded by DISTINCT
    cent values (the identical bound the batch histogram-CDF relies
    on), not by event count, so a billion-event stream with a bounded
    value domain carries kilobytes of state per type. Keyed on
    event_type: one shuffle per micro-batch; the key domain is the
    metrics-type dictionary (small by construction — this operator
    aggregates ACROSS users, so a per-user salt would change its
    semantics; a genuinely unbounded value domain needs a sketch
    quantile instead, which trades the exactness pinned here).
    Emission mode: update — the LAST row per type equals the batch
    operator over the full input (test-pinned via the shared
    transition and an end-to-end query). ``pct`` defaults to the batch
    operator's WINSOR_PCT so the twins cannot drift.

    No state timeout, deliberately: the prefix-equality contract above
    holds for the ENTIRE stream, so a type idle for an hour must keep
    its histogram (a timeout+remove would silently restart it from
    zero on the next event). State stays bounded without eviction —
    the key domain is the small event-type dictionary and each value
    is capped by distinct cent values."""
    import math

    from ontology_loader_spark.operators.events import WINSOR_PCT

    if pct is None:
        pct = WINSOR_PCT

    def update(
        key: Tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        stored = tuple(state.get) if state.exists else None
        cents = []
        for pdf in pdf_iter:
            for v in pdf["value"]:
                cents.append(int(math.floor(float(v) * 100 + 0.5)))
        new_state, (n, s, sw, cut) = _winsor_advance(stored, cents, pct)
        state.update(new_state)
        yield pd.DataFrame(
            {
                "event_type": pd.Series([key[0]], dtype="object"),
                "n_events": pd.Series([n], dtype="int64"),
                "sum_value_cents": pd.Series([s], dtype="int64"),
                "sum_winsorized_cents": pd.Series([sw], dtype="int64"),
                "p_cutoff_cents": pd.Series([cut], dtype="int64"),
            }
        )

    return (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=WINSOR_OUT_SCHEMA,
            stateStructType=WINSOR_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------ streaming conversation stats

CONV_STATS_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns", IntegerType(), False),
        StructField("n_user", IntegerType(), False),
        StructField("n_assistant", IntegerType(), False),
        StructField("n_tool", IntegerType(), False),
        StructField("alternation_breaks", IntegerType(), False),
        StructField("n_distinct_turns", IntegerType(), False),
        StructField("sum_chars", LongType(), False),
        StructField("max_chars", IntegerType(), False),
        StructField("avg_turn_chars", DoubleType(), False),
        StructField("assistant_user_char_ratio", DoubleType(), True),
    ]
)

CONV_STATS_STATE_SCHEMA = StructType(
    [
        StructField("idxs", ArrayType(IntegerType()), True),
        StructField("roles", ArrayType(StringType()), True),
        StructField("texts", ArrayType(StringType()), True),
    ]
)


def _conv_stats_advance(stored, rows):
    """Pure per-conversation transition of the streaming stats twin:
    fold a micro-batch's (turn_idx, role, text) rows into the stored
    turn list, then recompute the EXACT batch ``conversation_stats``
    answer over the whole delivered prefix — late / out-of-order
    turns re-enter the stable (turn_idx, text) order retroactively,
    which no running-pair alternation counter can do.

    ``stored``: (idxs, roles, texts) parallel lists or None. Returns
    (new_stored, stats_tuple) with the batch operator's column order.
    Division semantics mirror Spark doubles (0/0 -> NaN, x/0 -> Inf).
    """
    turns = (
        list(zip(stored[0], stored[1], stored[2])) if stored is not None else []
    )
    turns.extend(rows)
    ordered = sorted(turns, key=lambda t: (t[0], t[2], t[1]))
    roles = [t[1] for t in ordered]
    texts = [t[2] for t in ordered]
    n = len(ordered)
    n_user = sum(1 for r in roles if r == "user")
    n_assistant = sum(1 for r in roles if r == "assistant")
    n_tool = sum(1 for r in roles if r == "tool")
    breaks = sum(1 for i in range(1, n) if roles[i] == roles[i - 1])
    lens = [len(t) for t in texts]
    sum_chars = sum(lens)
    user_chars = sum(len(t) for r, t in zip(roles, texts) if r == "user")
    assistant_chars = sum(
        len(t) for r, t in zip(roles, texts) if r == "assistant"
    )
    if n_user == 0 or n_assistant == 0:
        ratio = None  # batch: NULL when either side is absent
    elif user_chars == 0:
        ratio = float("nan") if assistant_chars == 0 else float("inf")
    else:
        ratio = assistant_chars / user_chars
    new_stored = (
        [t[0] for t in ordered],
        roles,
        texts,
    )
    stats = (
        n,
        n_user,
        n_assistant,
        n_tool,
        breaks,
        len(set(texts)),
        sum_chars,
        max(lens),
        sum_chars / n,
        ratio,
    )
    return new_stored, stats


def conversation_stats_stream(turns: DataFrame) -> DataFrame:
    """Streaming twin of ``transcripts/quality.py::conversation_stats``:
    per conv_id structural quality features whose every emission equals
    the batch operator over the turns delivered so far.

    State = the conversation's delivered (turn_idx, role, text) turns —
    bounded per key by conversation length (~200 turns), the same
    invariant the batch window relies on; across keys the state store
    is an incremental per-conversation feature view of the corpus,
    sharded by the conv_id hash and disk-backed (RocksDB) at scale —
    the alternative is re-reading the same corpus per refresh. Keyed on
    conv_id: one shuffle per micro-batch, identical partitioning to
    every batch transcript operator.

    No state timeout, deliberately (the winsorized twin's contract
    argument): evicting an idle conversation would silently restart its
    stats when a late turn arrives. A deployment that bounds lateness
    should evict via its own retention job keyed on conversation end
    markers, not a wall-clock timeout inside this operator.
    """

    def update(
        key: Tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        stored = tuple(state.get) if state.exists else None
        rows = []
        for pdf in pdf_iter:
            for idx, role, text in zip(
                pdf["turn_idx"], pdf["role"], pdf["text"]
            ):
                rows.append((int(idx), str(role), str(text)))
        new_state, s = _conv_stats_advance(stored, rows)
        state.update(new_state)
        yield pd.DataFrame(
            {
                "conv_id": pd.Series([key[0]], dtype="object"),
                "n_turns": pd.Series([s[0]], dtype="int32"),
                "n_user": pd.Series([s[1]], dtype="int32"),
                "n_assistant": pd.Series([s[2]], dtype="int32"),
                "n_tool": pd.Series([s[3]], dtype="int32"),
                "alternation_breaks": pd.Series([s[4]], dtype="int32"),
                "n_distinct_turns": pd.Series([s[5]], dtype="int32"),
                "sum_chars": pd.Series([s[6]], dtype="int64"),
                "max_chars": pd.Series([s[7]], dtype="int32"),
                "avg_turn_chars": pd.Series([s[8]], dtype="float64"),
                "assistant_user_char_ratio": pd.Series(
                    [s[9]], dtype="float64"
                ),
            }
        )

    return (
        turns.select("conv_id", "turn_idx", "role", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=CONV_STATS_OUT_SCHEMA,
            stateStructType=CONV_STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
