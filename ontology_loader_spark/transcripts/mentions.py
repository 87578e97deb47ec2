"""T2 — dictionary mention detection + entity-link scoring.

The reference has no transcript stage; this implements the north rule's
"batched mention detection and entity-link scoring via pandas/Arrow
UDFs (no per-row Python)". Semantics pinned for the oracle: a mention
is a (turn, term) pair where the term's surface form occurs as a plain
substring of the turn text; link score = surface length (longer = more
specific), top-1 per turn with term-id tie-break.

Design for scale:

- One detector, :func:`detect_mentions`, with a measured dispatch: the
  collect that ships the dictionary stops one row past
  ``BROADCAST_ROWS_MAX`` (``partitioning.py``). Up to that
  ceiling the rows are broadcast once per executor and scanned in
  ``mapInPandas``, Arrow-batched, with the matcher built once per batch
  iterator, NOT once per row. Past it the dictionary stays distributed:
  texts and dictionary shards cogroup on ``(shard, salt)`` and each
  group builds only its shard's matcher.
- Both arms run the same scan body (:func:`_scan`) over a pure-Python
  Aho-Corasick automaton (:func:`_build_matcher`, no external deps):
  one pass over each text whatever the dictionary size. Matching
  depends only on (text, dictionary) — never on batch boundaries or
  partitioning (SURVEY.md §7.3.5). Optional transcript columns
  (``extra_cols``, e.g. ``ts``) ride with their row through the scan.
- One linker, :func:`top1_links`: a window over (conv_id, turn_idx) —
  key cardinality is the turn count, uniformly hash-distributed, no
  skew.
- Hot-term aggregations (mention counts) go through two-phase salted
  aggregation: hub terms dominate mention traffic (north rule's
  "salted-key broadcast linking ... to kill hot-entity skew").
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ontology_loader_spark import partitioning
from ontology_loader_spark.schemas import MENTION_SCHEMA


def _build_matcher(dict_rows: list[tuple[str, str]]):
    """Aho-Corasick multi-pattern substring matcher (pure Python, no
    external deps): one pass over the text regardless of dictionary
    size. Semantics identical to ``surface in text`` per pattern —
    matching depends only on (text, dictionary), never on batch
    boundaries (SURVEY.md §7.3.5). Returns a callable
    text -> list[(term_id, surface)], one entry per matching pattern
    (deduped across occurrences)."""
    from collections import deque

    patterns = [(tid, s) for tid, s in dict_rows if s]
    goto: list[dict[str, int]] = [{}]
    fail: list[int] = [0]
    out: list[list[int]] = [[]]
    for idx, (_, surface) in enumerate(patterns):
        node = 0
        for ch in surface:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(idx)

    q: deque[int] = deque()
    for nxt in goto[0].values():
        q.append(nxt)
    while q:
        node = q.popleft()
        for ch, nxt in goto[node].items():
            q.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0)
            if out[fail[nxt]]:
                out[nxt] = out[nxt] + out[fail[nxt]]

    root_goto = goto[0]

    def match(text: str) -> list[tuple[str, str]]:
        node = 0
        found: set[int] = set()
        for ch in text:
            while node and ch not in goto[node]:
                node = fail[node]
            node = goto[node].get(ch, 0) if node else root_goto.get(ch, 0)
            if out[node]:
                found.update(out[node])
        return [patterns[i] for i in sorted(found)]

    return match


def _scan(match, pdf: pd.DataFrame, extra_cols: tuple[str, ...]) -> pd.DataFrame:
    """The one scan body: texts -> one row per (text row, matching
    term), ``(conv_id, turn_idx, term_id, surface, *extra_cols)``.

    Carried columns ride with the row by POSITION (``iloc``), not by a
    join-back: (conv_id, turn_idx) is not unique in dirty corpora
    (duplicate turn_idx per conversation, SURVEY.md §7.3.5), so an
    equi-join would fan out across the duplicates, while the position
    keeps each physical row's own ``ts``/role at zero shuffle cost."""
    idxs, term_ids, surfaces = [], [], []
    for i, text in enumerate(pdf["text"]):
        for term_id, surface in match(text):
            idxs.append(i)
            term_ids.append(term_id)
            surfaces.append(surface)
    base = pdf.iloc[idxs].reset_index(drop=True)
    out = pd.DataFrame(
        {
            "conv_id": base["conv_id"].astype("object"),
            "turn_idx": base["turn_idx"].astype("int32"),
            "term_id": pd.Series(term_ids, dtype="object"),
            "surface": pd.Series(surfaces, dtype="object"),
        }
    )
    for c in extra_cols:
        out[c] = base[c]
    return out


def _texts(transcripts: DataFrame, extra_cols: tuple[str, ...]):
    """The scanned columns and the output schema they imply."""
    src = transcripts.select("conv_id", "turn_idx", "text", *extra_cols)
    schema = T.StructType(
        list(MENTION_SCHEMA.fields) + [src.schema[c] for c in extra_cols]
    )
    return src, schema


def detect_mentions(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Emit one row per (turn row, matching term): ``(conv_id,
    turn_idx, term_id, surface, *extra_cols)``.

    The dictionary is measured by the collect that ships it: at most
    ``BROADCAST_ROWS_MAX`` rows are broadcast and scanned in
    ``mapInPandas``; a dictionary past that bound (the collect stops
    one row beyond it) goes to :func:`_detect_mentions_sharded`, which
    never holds it on the driver."""
    dict_rows = [
        tuple(r)
        for r in mention_dict.select("id", "name")
        .limit(partitioning.BROADCAST_ROWS_MAX + 1)
        .collect()
    ]
    if not partitioning.fits("detect_mentions", len(dict_rows), ("collected", "sharded")):
        return _detect_mentions_sharded(transcripts, mention_dict, extra_cols)
    bc = spark.sparkContext.broadcast(dict_rows)
    src, schema = _texts(transcripts, extra_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        match = _build_matcher(bc.value)
        for pdf in batches:
            yield _scan(match, pdf, extra_cols)

    return src.mapInPandas(run, schema=schema)


def _detect_mentions_sharded(
    transcripts: DataFrame,
    mention_dict: DataFrame,
    extra_cols: tuple[str, ...] = (),
    n_shards: int = 4,
    n_salt: int = 4,
) -> DataFrame:
    """The arm of :func:`detect_mentions` for dictionaries past the
    broadcast ceiling. Fully distributed — the dictionary never
    touches the driver:

    - every dictionary row goes to shard ``hash(term_id) % n_shards``
      and is replicated across the ``n_salt`` text salts of that shard;
    - every text row is replicated across all ``n_shards`` shards and
      goes to salt ``hash(conv_id, turn_idx) % n_salt``;
    - the two sides cogroup on ``(shard, salt)``: each group builds
      its shard's Aho-Corasick automaton executor-side from the
      group's dictionary rows and scans the group's texts with
      :func:`_scan`.

    Memory bound per task: ``|dict| / n_shards`` automaton states +
    ``|texts| / n_salt`` rows. Cost: texts shuffle ``n_shards``× and
    dictionary rows ``n_salt``× (the price of not broadcasting).
    Shards partition the term set, so the per-shard outputs union to
    exactly the collected arm's result; matching depends only on
    (text, shard dictionary), never on group or batch boundaries."""
    src, schema = _texts(transcripts, extra_cols)
    dict_part = mention_dict.select(
        F.pmod(F.hash("id"), F.lit(n_shards)).alias("shard"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
        "id",
        "name",
    )
    text_part = src.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("shard"),
        F.pmod(F.hash("conv_id", "turn_idx"), F.lit(n_salt)).alias("salt"),
        *src.columns,
    )

    def run(dict_pdf: pd.DataFrame, text_pdf: pd.DataFrame) -> pd.DataFrame:
        match = _build_matcher(list(zip(dict_pdf["id"], dict_pdf["name"])))
        return _scan(match, text_pdf, extra_cols)

    return (
        dict_part.groupBy("shard", "salt")
        .cogroup(text_part.groupBy("shard", "salt"))
        .applyInPandas(run, schema=schema)
    )


@F.pandas_udf(T.IntegerType())
def link_score(surface: pd.Series) -> pd.Series:
    """Vectorized link score: surface-form length (longer = more
    specific). Kept as a pandas UDF deliberately — this is the slot
    where a real scorer (embedding dot product, character n-gram
    similarity) runs over Arrow batches."""
    return surface.str.len().astype("int32")


def top1_links(mentions: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Top-1 candidate per turn: score desc, term_id asc tie-break.

    Carried mention columns (e.g. ``ts``) are kept and APPENDED to the
    ordering: duplicate (conv_id, turn_idx) keys (dirty corpora,
    SURVEY.md §7.3.5) can tie on (score, term_id) across physical rows
    whose carried values differ, and the winner's carried values must
    not depend on row order."""
    scored = mentions.withColumn("score", link_score(F.col("surface")))
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("score").desc(),
        F.col("term_id").asc(),
        *[F.col(c).asc() for c in extra_cols],
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("conv_id", "turn_idx", "term_id", "surface", *extra_cols)
    )


def comention_lift(mentions: DataFrame) -> DataFrame:
    """Edge weighting for the co-mention KG: lift(u, v) =
    P(u,v) / (P(u)·P(v)) over turns = (n_uv · N) / (n_u · n_v) — the
    association strength a linker uses to rank candidate relations
    (PMI without the log, so the arithmetic is two exact-int counts
    and one double multiply/divide chain — bit-identical across
    engines; log rounding is not guaranteed identical).

    Per-term and per-pair counts are distinct-turn counts; the pair
    join keys on (conv_id, turn_idx) — turn-cardinality keys, no
    skew. Output (u, v, n_uv, lift) for u < v."""
    turns = mentions.select("conv_id", "turn_idx", "term_id").distinct()
    n_total = turns.select("conv_id", "turn_idx").distinct().count()
    per_term = turns.groupBy("term_id").agg(F.count("*").alias("n_t"))
    a = turns.select("conv_id", "turn_idx", F.col("term_id").alias("u"))
    b = turns.select("conv_id", "turn_idx", F.col("term_id").alias("v"))
    # big-big self-join on uniform turn keys: neither side broadcasts;
    # shuffle-hash beats sort-merge (no per-partition sorts, build side
    # is the per-turn mention group — tiny per key)
    pair = (
        a.join(b.hint("shuffle_hash"), ["conv_id", "turn_idx"])
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_uv"))
    )
    nu = per_term.select(F.col("term_id").alias("u"), F.col("n_t").alias("n_u"))
    nv = per_term.select(F.col("term_id").alias("v"), F.col("n_t").alias("n_v"))
    return (
        pair.join(F.broadcast(nu), "u")
        .join(F.broadcast(nv), "v")
        .select(
            "u",
            "v",
            "n_uv",
            (
                (F.col("n_uv").cast("double") * F.lit(float(n_total)))
                / (F.col("n_u").cast("double") * F.col("n_v").cast("double"))
            ).alias("lift"),
        )
    )


def mention_counts_salted(mentions: DataFrame, n_salt: int = 16) -> DataFrame:
    """Two-phase salted count per term: hub terms concentrate mention
    traffic, so phase 1 pre-aggregates on (term_id, salt) before the
    final per-term combine (SURVEY.md §4.2.2)."""
    phase1 = (
        mentions.withColumn(
            "salt", F.pmod(F.hash(F.col("conv_id"), F.col("turn_idx")), F.lit(n_salt))
        )
        .groupBy("term_id", "salt")
        .agg(F.count("*").alias("partial"))
    )
    return phase1.groupBy("term_id").agg(F.sum("partial").alias("n_mentions"))


def mention_timeline(
    spark: SparkSession, transcripts: DataFrame, mention_dict: DataFrame
) -> DataFrame:
    """KG activity over time: per (term, day) mention volume —
    (term_id, day, n_mentions, n_convs). The trend/burst-detection
    input ('when did the corpus start talking about <term>?').

    Scale shape: detection is the Arrow slot with ``ts`` carried
    through the batch (no join-back, see :func:`_scan`); the aggregate is one
    groupBy((term_id, day)) — hub terms are spread across days, and
    count/count-distinct partials combine map-side, so hot-term skew
    is additive only."""
    m = detect_mentions(spark, transcripts, mention_dict, ("ts",))
    return (
        m.select(
            "term_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "conv_id",
        )
        .groupBy("term_id", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.count_distinct("conv_id").cast("bigint").alias("n_convs"),
        )
    )
