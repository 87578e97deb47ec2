"""applyInPandasWithState operator: final per-conversation state after
draining the stream equals the batch ground truth (turn count +
contiguous prefix), even with out-of-order arrival across micro-batches."""

import datetime

from pyspark.sql import functions as F

from ontology_loader_spark.schemas import TRANSCRIPT_SCHEMA
from ontology_loader_spark.streaming.ingest import stream_transcripts
from ontology_loader_spark.streaming.stateful import conversation_progress

BASE = datetime.datetime(2026, 2, 1)


def test_conversation_progress(spark, tmp_path):
    # c1: all 5 turns, delivered out of order; c2: gap at idx 1 ->
    # prefix stalls at 1 even though 3 turns arrived
    rows = [
        ("c1", i, "user", f"t{i}", None, BASE) for i in [3, 0, 4, 1, 2]
    ] + [
        ("c2", i, "user", f"t{i}", None, BASE) for i in [0, 2, 3]
    ]
    src = tmp_path / "src"
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    # several files -> several micro-batches (maxFilesPerTrigger=1)
    df.repartition(4).write.mode("overwrite").parquet(str(src))

    stream = stream_transcripts(spark, str(src), max_files_per_trigger=1)
    q = (
        conversation_progress(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not end within 180 s"

    # update mode emits one row per conv per micro-batch; the final
    # state is the row with the max n_turns_seen per conv
    final = {
        r["conv_id"]: (r["n_turns_seen"], r["contiguous_prefix"])
        for r in spark.sql(
            """select conv_id, n_turns_seen, contiguous_prefix from (
                 select *, row_number() over (partition by conv_id
                     order by n_turns_seen desc) rn from conv_progress
               ) where rn = 1"""
        ).collect()
    }
    assert final["c1"] == (5, 5)
    assert final["c2"] == (3, 1)


def test_advance_transition_shared():
    """The stateful operator folds through one pure transition
    function; pin its semantics directly (out-of-order arrival, gap
    stall, gap fill across calls)."""
    from ontology_loader_spark.streaming.stateful import _advance

    st = _advance(None, [3, 0])
    assert st == (2, "3", 1)            # 0 consumed, 3 pending
    st = _advance(st, [2])
    assert st == (3, "2,3", 1)          # gap at 1 stalls the prefix
    st = _advance(st, [1])
    assert st == (4, "", 4)             # gap filled -> prefix jumps
    assert _advance(st, []) == (4, "", 4)   # idempotent on empty batch


# ---------------------------------------------------- streaming as-of


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )


def _rand_events(n, n_users=5, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                BASE + datetime.timedelta(seconds=rng.randrange(10_000)),
                rng.randrange(n_users),
                rng.choice(["view", "click", "purchase"]),
                float(rng.randrange(100)),
                "",
            )
        )
    return rows


def test_asof_stream_transition_matches_batch(spark):
    """Feeding ts-ordered micro-batches through the pure _asof_advance
    transition reproduces the batch asof_join exactly — the shared
    transition pins the streaming operator to the batch semantics."""
    from ontology_loader_spark.operators.events import asof_join
    from ontology_loader_spark.streaming.stateful import _asof_advance

    rows = _rand_events(300)
    batch = {
        r["l_event_id"]: (r["r_event_id"], r["r_value"])
        for r in asof_join(_mk_events(spark, rows)).collect()
    }

    # micro-batches = consecutive ts-ordered chunks (event-log delivery)
    ordered = sorted(
        (r for r in rows if r[3] in ("view", "click")),
        key=lambda r: (r[1], r[0]),
    )
    chunks = [ordered[i : i + 37] for i in range(0, len(ordered), 37)]
    state: dict = {}
    got = {}
    for chunk in chunks:
        per_user: dict = {}
        for eid, ts, uid, etype, value, _ in chunk:
            ts_us = int(ts.timestamp() * 1_000_000)
            side = 0 if etype == "view" else 1
            per_user.setdefault(uid, []).append((ts_us, side, eid, value))
        for uid, urows in per_user.items():
            new_state, out = _asof_advance(state.get(uid), urows)
            state[uid] = new_state
            for l_eid, _ts, _lv, r_eid, r_val in out:
                got[l_eid] = (r_eid, r_val)
    assert got == batch


def test_asof_join_stream_query(spark, tmp_path):
    """The applyInPandasWithState operator end-to-end through a real
    streaming query: one micro-batch over the full fixture must equal
    the batch asof_join row-for-row."""
    from ontology_loader_spark.operators.events import asof_join
    from ontology_loader_spark.streaming.stateful import asof_join_stream

    rows = _rand_events(200, seed=11)
    df = _mk_events(spark, rows)
    src = tmp_path / "asof_src"
    df.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema(df.schema)
        .parquet(str(src))
    )
    q = (
        asof_join_stream(stream)
        .writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not end within 180 s"

    got = {
        r["l_event_id"]: (r["user_id"], r["l_ts"], r["l_value"],
                          r["r_event_id"], r["r_value"])
        for r in spark.sql("select * from asof_stream").collect()
    }
    want = {
        r["l_event_id"]: (r["user_id"], r["l_ts"], r["l_value"],
                          r["r_event_id"], r["r_value"])
        for r in asof_join(df).collect()
    }
    assert got == want


def test_winsor_transition_matches_batch_on_prefixes(spark):
    """Feeding micro-batch chunks through the pure _winsor_advance
    transition reproduces the batch winsorized_stats EXACTLY at every
    prefix — the histogram state makes the clip retroactive, so each
    emission is the batch answer over everything seen so far."""
    import math

    from ontology_loader_spark.operators.events import winsorized_stats
    from ontology_loader_spark.streaming.stateful import _winsor_advance

    rows = _rand_events(240, seed=5)
    chunks = [rows[i : i + 60] for i in range(0, len(rows), 60)]
    state: dict = {}
    for prefix_end in range(1, len(chunks) + 1):
        chunk = chunks[prefix_end - 1]
        per_type: dict = {}
        for _eid, _ts, _uid, etype, value, _p in chunk:
            per_type.setdefault(etype, []).append(
                int(math.floor(float(value) * 100 + 0.5))
            )
        got = {}
        for etype in per_type:
            state[etype], _ = _winsor_advance(
                state.get(etype), per_type[etype], 90
            )
        for etype, st in state.items():
            _, stats = _winsor_advance(st, [], 90)
            got[etype] = stats
        prefix_rows = [r for c in chunks[:prefix_end] for r in c]
        want = {
            r["event_type"]: (r["n_events"], r["sum_value_cents"],
                              r["sum_winsorized_cents"], r["p_cutoff_cents"])
            for r in winsorized_stats(_mk_events(spark, prefix_rows)).collect()
        }
        assert got == want


def test_winsorized_stream_query_matches_batch(spark, tmp_path):
    """End-to-end streaming query: the LAST update-mode emission per
    event type equals the batch winsorized_stats over the full input."""
    from ontology_loader_spark.operators.events import winsorized_stats
    from ontology_loader_spark.streaming.stateful import winsorized_stats_stream

    rows = _rand_events(300, seed=9)
    df = _mk_events(spark, rows)
    src = tmp_path / "winsor_src"
    df.coalesce(4).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        winsorized_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("winsor_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "winsor_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not end within 180 s"

    # last emission per type = max n_events per type (monotone growth)
    emitted = spark.sql("select * from winsor_stream").collect()
    last: dict = {}
    for r in emitted:
        if (r["event_type"] not in last
                or r["n_events"] > last[r["event_type"]]["n_events"]):
            last[r["event_type"]] = r
    got = {
        k: (r["n_events"], r["sum_value_cents"],
            r["sum_winsorized_cents"], r["p_cutoff_cents"])
        for k, r in last.items()
    }
    want = {
        r["event_type"]: (r["n_events"], r["sum_value_cents"],
                          r["sum_winsorized_cents"], r["p_cutoff_cents"])
        for r in winsorized_stats(df).collect()
    }
    assert got == want
    assert len(emitted) > len(want)  # multiple micro-batches actually ran


# ------------------------------ streaming conversation stats twin


def _mk_turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def _conv_rows():
    rows = []
    # c1: clean alternation + one duplicated text
    seq = [("user", "hi there"), ("assistant", "hello back"),
           ("user", "same text"), ("assistant", "same text"),
           ("tool", "tool output x"), ("assistant", "wrap up")]
    rows += [("c1", i, r, t) for i, (r, t) in enumerate(seq)]
    # c2: same-role runs (alternation breaks), no tool turns
    seq = [("user", "aaa"), ("user", "bbbb"), ("assistant", "ccccc"),
           ("assistant", "dd"), ("assistant", "eeeeee")]
    rows += [("c2", i, r, t) for i, (r, t) in enumerate(seq)]
    # c3: assistant-only (ratio must be NULL)
    rows += [("c3", 0, "assistant", "solo announcement")]
    # c4: duplicate turn_idx with different texts (tie-break on text)
    rows += [("c4", 0, "user", "z first"), ("c4", 0, "assistant", "a first"),
             ("c4", 1, "user", "tail")]
    return rows


def test_conv_stats_transition_matches_batch_on_prefixes(spark):
    """Out-of-order delivery: after every micro-batch the transition's
    answer equals the batch operator on the delivered prefix."""
    from ontology_loader_spark.streaming.stateful import _conv_stats_advance
    from ontology_loader_spark.transcripts.quality import conversation_stats

    rows = _conv_rows()
    # deliver in three batches, deliberately NOT in turn order
    batches = [rows[::3], rows[1::3], rows[2::3]]
    stored: dict = {}
    delivered = []
    for batch in batches:
        delivered.extend(batch)
        got = {}
        for conv in {r[0] for r in delivered}:
            new_rows = [(r[1], r[2], r[3]) for r in batch if r[0] == conv]
            prev = stored.get(conv)
            if new_rows or prev is not None:
                stored[conv], stats = _conv_stats_advance(prev, new_rows)
                got[conv] = stats
        want = {
            r["conv_id"]: (
                r["n_turns"], r["n_user"], r["n_assistant"], r["n_tool"],
                r["alternation_breaks"], r["n_distinct_turns"],
                r["sum_chars"], r["max_chars"], r["avg_turn_chars"],
                r["assistant_user_char_ratio"],
            )
            for r in conversation_stats(_mk_turns(spark, delivered)).collect()
        }
        assert got == want


def test_conv_stats_stream_query_matches_batch(spark, tmp_path):
    """End-to-end availableNow query: last update-mode emission per
    conversation equals the batch operator over the full input."""
    from ontology_loader_spark.streaming.stateful import (
        conversation_stats_stream,
    )
    from ontology_loader_spark.transcripts.quality import conversation_stats

    df = _mk_turns(spark, _conv_rows())
    src = tmp_path / "conv_src"
    df.coalesce(3).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        conversation_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("conv_stats_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "conv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not end within 180 s"

    emitted = spark.sql("select * from conv_stats_stream").collect()
    last: dict = {}
    for r in emitted:
        if (r["conv_id"] not in last
                or r["n_turns"] > last[r["conv_id"]]["n_turns"]):
            last[r["conv_id"]] = r
    cols = [
        "n_turns", "n_user", "n_assistant", "n_tool",
        "alternation_breaks", "n_distinct_turns", "sum_chars",
        "max_chars", "avg_turn_chars", "assistant_user_char_ratio",
    ]
    got = {k: tuple(r[c] for c in cols) for k, r in last.items()}
    want = {
        r["conv_id"]: tuple(r[c] for c in cols)
        for r in conversation_stats(df).collect()
    }
    assert got == want
