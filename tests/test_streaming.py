"""Structured Streaming tests: windowed turn counts match the batch
computation over the same files; foreachBatch mention handoff produces
the same mention set as the batch operator."""

import datetime

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.schemas import TRANSCRIPT_SCHEMA
from ontology_loader_spark.streaming.ingest import (
    foreach_batch_mentions,
    stream_transcripts,
    windowed_turn_counts,
)
from ontology_loader_spark.transcripts.mentions import detect_mentions

BASE = datetime.datetime(2026, 1, 1)


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("stream_src")
    rows = [
        (f"c{i % 7}", i, ["user", "assistant", "tool"][i % 3],
         f"text alpha {i}" if i % 2 == 0 else f"text beta {i}",
         None, BASE + datetime.timedelta(minutes=7 * i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    df.repartition(5).write.mode("overwrite").parquet(str(path / "data"))
    return str(path / "data")


def test_windowed_counts_match_batch(spark, transcript_dir, tmp_path):
    stream = stream_transcripts(spark, transcript_dir)
    counts = windowed_turn_counts(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("turn_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not end within 120 s"
    got = {
        (r["window_start"], r["role"]): r["n_turns"]
        for r in spark.sql("select * from turn_counts").collect()
    }
    batch = spark.read.parquet(transcript_dir)
    want = {
        (r["ws"], r["role"]): r["n"]
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "role"
        ).agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "role", F.col("n"))
        .collect()
    }
    assert got == want


def test_foreach_batch_mentions_match_batch(spark, transcript_dir, tmp_path):
    md = spark.createDataFrame([("T:1", "alpha"), ("T:2", "beta")],
                               "id string, name string")
    sink: list = []

    def writer(df, batch_id):
        sink.extend((r["conv_id"], r["turn_idx"], r["term_id"]) for r in df.collect())

    stream = stream_transcripts(spark, transcript_dir)
    q = foreach_batch_mentions(spark, stream, md, writer,
                               str(tmp_path / "ckpt2")).start()
    assert q.awaitTermination(120), "stream did not end within 120 s"

    batch = spark.read.parquet(transcript_dir)
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["term_id"])
        for r in detect_mentions(spark, batch, md).collect()
    )
    assert sorted(sink) == want
    assert len(want) == 200  # every turn mentions exactly one term


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicated texts across micro-batches are emitted once within
    the watermark horizon; distinct texts all survive."""
    import datetime

    from ontology_loader_spark.streaming.ingest import (
        stream_transcripts,
        streaming_exact_dedup,
    )

    base = datetime.datetime(2026, 5, 1)
    rows = []
    for i in range(30):
        # 10 distinct texts, each repeated 3 times across conversations
        rows.append((f"c{i}", 0, "user", f"text {i % 10}", None,
                     base + datetime.timedelta(minutes=i)))
    src = tmp_path / "dsrc"
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).repartition(5).write.mode(
        "overwrite"
    ).parquet(str(src))

    stream = stream_transcripts(spark, str(src), max_files_per_trigger=1)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not end within 180 s"
    got = spark.sql("select digest from stream_dedup").collect()
    assert len(got) == 10                      # one row per distinct text
    assert len({r["digest"] for r in got}) == 10


def test_streaming_mention_timeline_matches_batch(spark, transcript_dir, tmp_path):
    from ontology_loader_spark.streaming.ingest import (
        streaming_mention_timeline,
    )
    from ontology_loader_spark.transcripts.mentions import mention_timeline

    md = spark.createDataFrame([("T:1", "alpha"), ("T:2", "beta")],
                               "id string, name string")
    stream = stream_transcripts(spark, transcript_dir)
    q = (
        streaming_mention_timeline(spark, stream, md)
        .writeStream.format("memory")
        .queryName("mention_timeline_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_tl"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not end within 120 s"
    got = {
        (r["term_id"], r["day"]): r["n_mentions"]
        for r in spark.sql("select * from mention_timeline_stream").collect()
    }
    batch = spark.read.parquet(transcript_dir)
    want = {
        (r["term_id"], r["day"]): r["n_mentions"]
        for r in mention_timeline(spark, batch, md).collect()
    }
    assert got == want and len(want) > 0
