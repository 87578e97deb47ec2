"""Deduplication operators for large-scale training-data pipelines
(driver brief: first-class components alongside the KG operators).

All hashing is md5-based so the DuckDB oracle reproduces values
bit-for-bit; every modulus/constant is shared between the Spark and
SQL definitions.

Scale design:

- exact dedup: one hash-groupBy on md5(text) — shuffle keyed on the
  digest (uniform), map-side combine, no skew.
- MinHash+LSH: 3-token shingles exploded once (unigrams are useless
  on small-vocabulary corpora — every doc shares most of the
  vocabulary, so unigram-set jaccard is near 1 between NON-duplicates;
  shingles restore selectivity), K=8 signatures computed in a single
  hash aggregation (min of md5(seed:shingle) per doc), banded 2 rows
  × 4 bands (candidate threshold ≈ (1/4)^(1/2) = 0.5 shingle
  jaccard); candidate pairs come from a self-join on band keys. At
  100 TB the band join is the only quadratic-ish step and its blow-up
  is bounded by ``max_bucket``: buckets holding more than that many
  docs are dropped before the self-join (boilerplate/degenerate keys
  — exact dedup already collapses identical docs, so a giant LSH
  bucket carries no near-dup signal worth O(bucket²) pairs).
- SimHash: 16-bit signature via per-bit vote sums — one groupBy with
  16 conditional aggregates, fully codegen'd, no UDF.
- n-gram Jaccard: exact verification on LSH candidates only (never
  all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.partitioning import join_side, pin_fits

MINHASH_K = 8
# 4 bands x 2 rows over SHINGLES: collision threshold ≈ (1/4)^(1/2)
# = 0.5 shingle-jaccard. Selectivity comes from the shingle unit (a
# 3-token shingle universe is ~|vocab|³), not from deep bands.
BANDS = 4
ROWS_PER_BAND = 2
SHINGLE_N = 3
# LSH buckets holding more than this many docs are dropped before the
# pair self-join — the promised hot-bucket cap. A bucket of B docs
# emits B(B-1)/2 pairs; past this size the bucket is boilerplate (or a
# degenerate band key) and contributes quadratic cost, not signal.
MAX_BUCKET = 64
SIMHASH_BITS = 16


def doc_tokens(documents: DataFrame) -> DataFrame:
    """Bag of lowercase whitespace tokens per doc."""
    return (
        documents.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )


DOC_TOKENS_CTE = """
doc_tokens AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
  ) WHERE tok <> ''
)"""


def doc_shingles(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """``n``-token shingles per doc (space-joined), position-exploded —
    no UDF: token array once, then ``sequence``+``explode`` over start
    positions and an in-partition ``slice``. Explode fan-out is
    ~|tokens| rows per doc, the same scale the tokenizer already pays."""
    ts = F.expr("filter(split(lower(text), ' '), t -> t <> '')")
    return (
        documents.select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("ts") - (n - 1))).alias("pos"),
            F.col("ts"),
        )
        .select(
            "doc_id",
            F.expr(f"array_join(slice(ts, pos, {n}), ' ')").alias("shingle"),
        )
    )


DOC_SHINGLES_CTE = f"""
doc_shingles AS (
  SELECT doc_id, array_to_string(ts[pos:pos + {SHINGLE_N - 1}], ' ') AS shingle
  FROM (
    SELECT doc_id, ts,
           unnest(range(1, len(ts) - {SHINGLE_N - 1} + 1)) AS pos
    FROM (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      FROM documents
    ) WHERE len(ts) >= {SHINGLE_N}
  )
)"""


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup: canonical doc (min doc_id) per content digest.
    Output: (doc_id, canonical_id, group_size)."""
    hashed = documents.select("doc_id", F.md5(F.col("text")).alias("digest"))
    groups = hashed.groupBy("digest").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return hashed.join(groups, "digest").select("doc_id", "canonical_id", "group_size")


EXACT_DUP_SQL = """
WITH hashed AS (SELECT doc_id, md5(text) AS digest FROM documents),
groups AS (SELECT digest, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
           FROM hashed GROUP BY digest)
SELECT h.doc_id AS doc_id, g.canonical_id AS canonical_id, g.group_size AS group_size
FROM hashed h JOIN groups g USING (digest)"""


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """K md5-minhashes per doc: mh_i = min(md5('<i>:' || shingle))."""
    sh = doc_shingles(documents)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sig_sql() -> str:
    cols = ",\n    ".join(
        f"MIN(md5('{i}:' || shingle)) AS mh{i}" for i in range(MINHASH_K)
    )
    return f"""
minhash_sig AS (
  SELECT doc_id,
    {cols}
  FROM doc_shingles GROUP BY doc_id
)"""


def minhash_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): band key = md5 over the band's rows."""
    sig = minhash_signatures(documents)
    bands = []
    for b in range(BANDS):
        parts = [F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        bands.append(
            sig.select(
                "doc_id",
                F.lit(b).cast("int").alias("band"),
                F.md5(F.concat(*parts)).alias("band_key"),
            )
        )
    out = bands[0]
    for df in bands[1:]:
        out = out.unionByName(df)
    return out


def _minhash_bands_sql() -> str:
    selects = []
    for b in range(BANDS):
        parts = " || ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        selects.append(
            f"SELECT doc_id, CAST({b} AS INTEGER) AS band, md5({parts}) AS band_key "
            "FROM minhash_sig"
        )
    return "\nbands AS (\n  " + "\n  UNION ALL\n  ".join(selects) + "\n)"


def minhash_candidate_pairs(
    documents: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Distinct (a < b) pairs sharing at least one LSH band bucket no
    larger than ``max_bucket``.

    The cap is the 100 TB guard: a hot bucket (boilerplate text, a
    degenerate band key) of B docs would emit B(B-1)/2 pairs; counting
    per (band, band_key) first and dropping oversize buckets bounds the
    self-join output at ``|buckets| × max_bucket²`` regardless of skew.
    The count is one map-side-combinable aggregation over the band
    rows; the window-free two-phase shape keeps it a plain groupBy.

    The band relation feeds three consumers (the bucket-count agg, the
    cap semi-join, and both sides of the pair self-join); Spark does
    NOT reuse the exchange across them, so without pinning the whole
    shingle→signature→band pipeline recomputes per consumer (observed:
    16 parquet scans in the un-pinned plan). ``localCheckpoint`` pins
    the band rows (|docs| × bands, proportional to input) and the
    capped subset once each — the standard persist-vs-recompute trade
    every LSH implementation makes."""
    bands = minhash_bands(documents).localCheckpoint(eager=True)
    ok_buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") <= max_bucket)
        .select("band", "band_key")
    )
    # shuffle_hash hints: band_key is uniform by construction and
    # neither side is broadcastable at corpus scale, so a hash join is
    # always the right physical strategy — without the hint the planner
    # falls back to sort-merge when the input is a derived frame with
    # no size statistics (e.g. conversation reassembly) and sorts the
    # band rows for nothing
    capped = bands.join(
        ok_buckets.hint("shuffle_hash"), ["band", "band_key"], "left_semi"
    ).localCheckpoint(eager=True)
    left = capped.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("a"))
    right = capped.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("b"))
    return (
        left.join(right.hint("shuffle_hash"), ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_candidates_sql(max_bucket: int = MAX_BUCKET) -> str:
    return (
        "WITH " + DOC_SHINGLES_CTE.strip() + "," + _minhash_sig_sql().strip() + ","
        + _minhash_bands_sql().strip()
        + f""",
ok_buckets AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key HAVING COUNT(*) <= {max_bucket}
),
capped AS (
  SELECT b.doc_id, b.band, b.band_key
  FROM bands b JOIN ok_buckets o
    ON b.band = o.band AND b.band_key = o.band_key
)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM capped l JOIN capped r ON l.band = r.band AND l.band_key = r.band_key
WHERE l.doc_id < r.doc_id"""
    )


def ngram_jaccard(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: |∩| / |∪| (double
    division of exact integers — bit-identical across engines). The
    verification unit matches the MinHash estimate's unit (shingles),
    so the LSH threshold and the verify threshold are commensurate.

    The candidate-pair set is max_bucket-capped upstream — small
    relative to the exploded shingle table — and broadcasting it into
    the intersection joins beats a sort-merge of the shingle table on
    the pair key when it fits. But the cap bounds pairs PER BUCKET
    while bucket count grows with the corpus, so the capped set is
    corpus-sized at 100 TB: the pair set is therefore pinned and
    measured, and every pair-keyed side follows the one join-side rule
    (``partitioning.py``, in :func:`_pair_overlap`) — broadcast up to
    ``BROADCAST_ROWS_MAX`` pairs, shuffle hash join on doc id above."""
    return _pair_overlap(documents, pairs, "ngram_jaccard").select(
        "a",
        "b",
        (
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )


def _pair_overlap(documents: DataFrame, pairs: DataFrame, op_name: str) -> DataFrame:
    """``(a, b, n_inter, na, nb)`` per candidate pair: the distinct
    shingles the two docs share (0 when disjoint) and each doc's own
    count; a pair whose doc is too short to shingle drops at the sizes
    join. The pair set is pinned and measured; every pair-keyed side
    follows the one join-side rule (``partitioning.py``), and the
    corpus-sized shingle side of the ``(b, shingle)`` join is hinted
    ``shuffle_hash`` whatever the count, so no join sorts."""
    pairs, bc = pin_fits(pairs, op_name)
    ds = doc_shingles(documents).distinct()
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = ds.select(F.col("doc_id").alias("a"), "shingle")
    tb = ds.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        join_side(pairs, bc).join(ta, "a").join(tb.hint("shuffle_hash"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    # inter is keyed by candidate pair: the same bounded size as the pairs
    scored = pairs.join(join_side(inter, bc), ["a", "b"], "left").na.fill({"n_inter": 0})
    sized = join_side(scored, bc).join(
        sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a"
    )
    return join_side(sized, bc).join(
        sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b"
    )


def ngram_jaccard_sql(max_bucket: int = MAX_BUCKET) -> str:
    return (
        minhash_candidates_sql(max_bucket).replace(
            "\nSELECT DISTINCT l.doc_id AS a",
            ",\npairs AS (SELECT DISTINCT l.doc_id AS a",
        ).replace(
            "WHERE l.doc_id < r.doc_id",
            "WHERE l.doc_id < r.doc_id),",
        )
        + """
tokset AS (SELECT DISTINCT doc_id, shingle FROM doc_shingles),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tokset GROUP BY doc_id),
inter AS (
  SELECT p.a, p.b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN tokset ta ON ta.doc_id = p.a
  JOIN tokset tb ON tb.doc_id = p.b AND tb.shingle = ta.shingle
  GROUP BY p.a, p.b
)
SELECT p.a AS a, p.b AS b,
  CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
    / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sizes sa ON sa.doc_id = p.a
JOIN sizes sb ON sb.doc_id = p.b"""
    )


def _hex4_spark(hexcol):
    """Value of the first 4 hex chars of ``hexcol`` as an int —
    instr-based digit parse shared with the SQL oracle."""
    v = F.lit(0)
    for i in range(1, 5):
        digit = F.instr(F.lit("0123456789abcdef"), F.substring(hexcol, i, 1)) - 1
        v = v * 16 + digit
    return v.cast("long")


def _hex4_sql(hexexpr: str) -> str:
    v = "0"
    for i in range(1, 5):
        digit = f"(instr('0123456789abcdef', substr({hexexpr}, {i}, 1)) - 1)"
        v = f"(({v}) * 16 + {digit})"
    return f"CAST({v} AS BIGINT)"


def simhash(documents: DataFrame) -> DataFrame:
    """16-bit SimHash per doc: per-bit ±1 votes over token hashes,
    bit set iff the vote sum is positive. Output (doc_id, simhash)."""
    toks = doc_tokens(documents).withColumn(
        "hv", _hex4_spark(F.md5(F.col("tok")))
    )
    votes = [
        F.sum(
            F.when(
                (F.floor(F.col("hv") / (2 ** b)) % 2) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sh = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sh = sh + F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
    return agg.select("doc_id", sh.alias("simhash"))


def simhash_sql() -> str:
    hv = _hex4_sql("md5(tok)")
    votes = ",\n    ".join(
        f"SUM(CASE WHEN CAST(FLOOR(hv / {2 ** b}) AS BIGINT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sh = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return (
        "WITH " + DOC_TOKENS_CTE.strip() + f""",
hashed AS (SELECT doc_id, {hv} AS hv FROM doc_tokens),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({sh} AS BIGINT) AS simhash FROM votes"""
    )


# ----------------------------------------------- span-level exact dedup

SPAN_W = 16      # tokens per hashed span window
SPAN_STRIDE = 8  # window start stride (W/2 -> every token covered twice)


def span_dedup(
    documents: DataFrame, span_w: int = SPAN_W, stride: int = SPAN_STRIDE
) -> DataFrame:
    """Exact substring-level deduplication à la "Deduplicating Training
    Data Makes Language Models Better" (Lee et al. 2022), at span
    granularity: hash every ``span_w``-token window at ``stride``
    offsets; a span whose hash occurs more than once ANYWHERE in the
    corpus is a duplicate, and its first occurrence — min doc_id, then
    min position — is the canonical copy a cleaner keeps. Output one
    row per span occurrence: (doc_id, pos, span_hash, is_dup,
    is_canonical); ``pos`` is the 1-based token offset.

    Scale design: the suffix-array the paper builds is replaced by
    hash-grouping, the shuffle-native formulation — explode is
    |tokens|/stride rows per doc (same order as tokenization), the
    occurrence count + min-doc aggregation is one map-side-combinable
    groupBy on the md5 span hash (uniform key, no skew), and the
    canonical position needs one more bounded aggregation restricted
    to the min doc. A boilerplate span repeated 10⁶ times is still
    ONE aggregate row — re-attaching verdicts to occurrences is a
    hash-sized-to-corpus-sized equi-join with no fan-out."""
    ts = F.expr("filter(split(lower(text), ' '), t -> t <> '')")
    spans = (
        documents.select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") >= span_w)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.size("ts") - (span_w - 1), F.lit(stride)
                )
            ).alias("pos"),
            F.col("ts"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.expr(f"array_join(slice(ts, pos, {span_w}), ' ')")).alias(
                "span_hash"
            ),
        )
    )
    meta = spans.groupBy("span_hash").agg(
        F.count("*").alias("occ"), F.min("doc_id").alias("c_doc")
    )
    canon_pos = (
        spans.join(
            meta.select("span_hash", "c_doc").hint("shuffle_hash"),
            ["span_hash"],
        )
        .filter(F.col("doc_id") == F.col("c_doc"))
        .groupBy("span_hash")
        .agg(F.min("pos").alias("c_pos"))
    )
    verdicts = meta.join(canon_pos.hint("shuffle_hash"), "span_hash")
    return spans.join(verdicts.hint("shuffle_hash"), "span_hash").select(
        "doc_id",
        "pos",
        "span_hash",
        (F.col("occ") > 1).alias("is_dup"),
        (
            (F.col("doc_id") == F.col("c_doc")) & (F.col("pos") == F.col("c_pos"))
        ).alias("is_canonical"),
    )


def span_dedup_sql(span_w: int = SPAN_W, stride: int = SPAN_STRIDE) -> str:
    return f"""
WITH spans AS (
  SELECT doc_id, pos,
         md5(array_to_string(ts[pos:pos + {span_w - 1}], ' ')) AS span_hash
  FROM (
    SELECT doc_id, ts,
           unnest(range(1, len(ts) - {span_w - 1} + 1, {stride})) AS pos
    FROM (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
      FROM documents
    ) WHERE len(ts) >= {span_w}
  )
),
meta AS (
  SELECT span_hash, COUNT(*) AS occ, MIN(doc_id) AS c_doc
  FROM spans GROUP BY span_hash
),
canon_pos AS (
  SELECT s.span_hash, MIN(s.pos) AS c_pos
  FROM spans s JOIN meta m ON m.span_hash = s.span_hash AND s.doc_id = m.c_doc
  GROUP BY s.span_hash
)
SELECT s.doc_id AS doc_id, s.pos AS pos, s.span_hash AS span_hash,
       m.occ > 1 AS is_dup,
       (s.doc_id = m.c_doc AND s.pos = c.c_pos) AS is_canonical
FROM spans s
JOIN meta m ON m.span_hash = s.span_hash
JOIN canon_pos c ON c.span_hash = s.span_hash"""


# ------------------------------------------------- containment dedup

# rare-shingle candidate generation: only shingles appearing in
# [RARE_DF_MIN, RARE_DF_MAX] documents anchor candidate pairs. The df
# ceiling is the scale guard (each shingle contributes ≤ max_df²
# pairs — boilerplate shingles with corpus-scale df are exactly the
# ones that carry no containment signal); the floor just drops
# singletons that can't pair.
RARE_DF_MIN = 2
RARE_DF_MAX = 8
MIN_SHARED_RARE = 4
CONTAINMENT_THRESHOLD = 0.3


def rare_shingle_candidates(
    documents: DataFrame,
    min_df: int = RARE_DF_MIN,
    max_df: int = RARE_DF_MAX,
    min_shared: int = MIN_SHARED_RARE,
) -> DataFrame:
    """Candidate (a < b) pairs sharing ≥ ``min_shared`` RARE shingles.

    Containment-oriented candidate generation: symmetric MinHash bands
    are biased against a small doc inside a much larger one (the
    jaccard the bands estimate is low even when containment is ~1), so
    the anchor here is shared rare n-grams instead. Output is bounded
    by |rare shingles| × max_df² regardless of corpus size — the df
    cap plays the role ``max_bucket`` plays for the LSH buckets — and
    the shared-count filter is one map-side-combinable groupBy."""
    ds = doc_shingles(documents).distinct()
    rare = (
        ds.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("shingle")
    )
    anchored = ds.join(rare, "shingle", "left_semi")
    left = anchored.select("shingle", F.col("doc_id").alias("a"))
    right = anchored.select("shingle", F.col("doc_id").alias("b"))
    return (
        left.join(right, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("a", "b")
    )


def containment_dedup(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """Asymmetric near-duplicate detection: containment of the SMALLER
    shingle set in the larger, C = |S_a ∩ S_b| / min(|S_a|, |S_b|) —
    the quote/boilerplate/wrapper case symmetric jaccard misses (a doc
    embedded in a bigger doc has low jaccard but containment ~1).
    Output (contained, container, containment) for candidate pairs
    with C ≥ ``threshold``; ``contained`` is the smaller-set doc
    (ties broken by doc_id), so the direction is deterministic.

    Candidates default to :func:`rare_shingle_candidates` (bounded by
    the rare-df cap); the overlap counts are ``ngram_jaccard``'s
    (:func:`_pair_overlap`), joined by the same measured rule. Ratio of
    exact ints → bit-identical across engines."""
    if pairs is None:
        pairs = rare_shingle_candidates(documents)
    scored = (
        _pair_overlap(documents, pairs, "containment_dedup")
        .select(
            "a",
            "b",
            "na",
            "nb",
            (
                F.col("n_inter").cast("double")
                / F.least("na", "nb").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    a_contained = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("a") < F.col("b"))
    )
    return scored.select(
        F.when(a_contained, F.col("a")).otherwise(F.col("b")).alias("contained"),
        F.when(a_contained, F.col("b")).otherwise(F.col("a")).alias("container"),
        "containment",
    )


def containment_dedup_sql(
    min_df: int = RARE_DF_MIN,
    max_df: int = RARE_DF_MAX,
    min_shared: int = MIN_SHARED_RARE,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> str:
    return (
        "WITH " + DOC_SHINGLES_CTE.strip() + f""",
ds AS (SELECT DISTINCT doc_id, shingle FROM doc_shingles),
rare AS (
  SELECT shingle FROM ds
  GROUP BY shingle HAVING COUNT(*) BETWEEN {min_df} AND {max_df}
),
anchored AS (SELECT d.doc_id, d.shingle FROM ds d JOIN rare r USING (shingle)),
cand AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM anchored l JOIN anchored r ON l.shingle = r.shingle
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS n_inter
  FROM cand c
  JOIN ds ta ON ta.doc_id = c.a
  JOIN ds tb ON tb.doc_id = c.b AND tb.shingle = ta.shingle
  GROUP BY c.a, c.b
),
scored AS (
  SELECT c.a, c.b, sa.n AS na, sb.n AS nb,
    CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
  FROM cand c
  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.doc_id = c.a
  JOIN sizes sb ON sb.doc_id = c.b
)
SELECT
  CASE WHEN na < nb OR (na = nb AND a < b) THEN a ELSE b END AS contained,
  CASE WHEN na < nb OR (na = nb AND a < b) THEN b ELSE a END AS container,
  containment
FROM scored WHERE containment >= {threshold}"""
    )


# ---------------------------------------------------- shingle novelty


def shingle_novelty(documents: DataFrame) -> DataFrame:
    """Per-doc novelty: how much of a document's shingle set appears
    NOWHERE else in the corpus — the memorization/boilerplate
    dial (low novelty = the doc is assembled from corpus-common
    n-grams). Output (doc_id, n_shingles, n_novel) with n_novel =
    count of the doc's distinct shingles whose corpus df is 1.

    Reuses the dedup shingle relation: one df aggregation on the
    shingle key (map-side combinable), one equi-join back — the df
    table is one row per distinct shingle, so a boilerplate shingle
    with df 10⁶ is still one joined row per occurrence, no fan-out."""
    ds = doc_shingles(documents).distinct()
    df = ds.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        ds.join(df.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )


def shingle_novelty_sql() -> str:
    return (
        "WITH " + DOC_SHINGLES_CTE.strip() + """,
ds AS (SELECT DISTINCT doc_id, shingle FROM doc_shingles),
df AS (SELECT shingle, COUNT(*) AS df FROM ds GROUP BY shingle)
SELECT d.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
FROM ds d JOIN df f ON f.shingle = d.shingle
GROUP BY d.doc_id"""
    )


# --------------------------- incremental (snapshot-over-corpus) dedup

#: hex4/65536 cut — ~25% of docs play the incoming snapshot in the gate
SNAP_CUT = 16384


def snapshot_split(documents: DataFrame, cut: int = SNAP_CUT):
    """(new_docs, hist_docs) by a deterministic salted hash cut on
    doc_id — the gate's stand-in for a real snapshot boundary (crawl
    date, ingestion batch id). Salt ``snap:`` decorrelates from the
    train/test cut. A projection: no shuffle, no RNG."""
    h = _hex4_spark(
        F.md5(F.concat(F.lit("snap:"), F.col("doc_id").cast("string")))
    )
    flagged = documents.withColumn("_is_new", h < cut)
    return (
        flagged.filter(F.col("_is_new")).drop("_is_new"),
        flagged.filter(~F.col("_is_new")).drop("_is_new"),
    )


def incremental_minhash_dedup(
    new_documents: DataFrame,
    hist_bands: DataFrame,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Near-dedup an incoming snapshot against an already-accepted
    corpus WITHOUT re-processing the corpus — the CommonCrawl-snapshot
    production shape at 100 TB: the historical side enters as its
    stored LSH band index (``minhash_bands`` output, a compact
    (doc_id, band, band_key) table persisted once per snapshot), so
    only the new documents are shingled/hashed each round.

    Verdict per NEW doc (priority union + min, the corpus_prep
    recipe): ``dup_of_corpus`` — shares a capped LSH bucket with any
    historical doc; else ``dup_in_batch`` — shares one with a
    lower-id new doc (min-id survivor); else ``novel``. The
    ``max_bucket`` cap bounds every bucket of the COMBINED band table,
    so hot boilerplate buckets stay O(max_bucket²) regardless of how
    many snapshots accumulate. Output (doc_id, verdict).
    """
    new_bands = minhash_bands(new_documents).withColumn("is_new", F.lit(True))
    hb = hist_bands.select("doc_id", "band", "band_key").withColumn(
        "is_new", F.lit(False)
    )
    allb = new_bands.unionByName(hb)
    ok = (
        allb.groupBy("band", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "band_key")
    )
    capped = allb.join(ok, ["band", "band_key"], "left_semi")
    cn = capped.filter(F.col("is_new")).select("band", "band_key", "doc_id")
    ch = capped.filter(~F.col("is_new")).select("band", "band_key", "doc_id")
    hist_hits = (
        cn.join(ch, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("priority", F.lit(1))
    )
    left = cn.select("band", "band_key", F.col("doc_id").alias("a"))
    right = cn.select("band", "band_key", F.col("doc_id").alias("b"))
    batch_dups = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("priority", F.lit(2))
    )
    base = new_documents.select("doc_id").withColumn("priority", F.lit(3))
    verdicts = (
        base.unionByName(hist_hits)
        .unionByName(batch_dups)
        .groupBy("doc_id")
        .agg(F.min("priority").alias("p"))
    )
    return verdicts.select(
        "doc_id",
        F.when(F.col("p") == 1, F.lit("dup_of_corpus"))
        .when(F.col("p") == 2, F.lit("dup_in_batch"))
        .otherwise(F.lit("novel"))
        .alias("verdict"),
    )


def incremental_minhash_dedup_sql(
    cut: int = SNAP_CUT, max_bucket: int = MAX_BUCKET
) -> str:
    h = _hex4_sql("md5('snap:' || CAST(doc_id AS VARCHAR))")
    return (
        "WITH " + DOC_SHINGLES_CTE.strip() + "," + _minhash_sig_sql().strip() + ","
        + _minhash_bands_sql().strip()
        + f""",
newdocs AS (SELECT doc_id FROM documents WHERE {h} < {cut}),
marked AS (
  SELECT b.doc_id, b.band, b.band_key, (n.doc_id IS NOT NULL) AS is_new
  FROM bands b LEFT JOIN newdocs n ON b.doc_id = n.doc_id
),
ok_buckets AS (
  SELECT band, band_key FROM marked
  GROUP BY band, band_key HAVING COUNT(*) <= {max_bucket}
),
capped AS (
  SELECT m.* FROM marked m
  JOIN ok_buckets o ON m.band = o.band AND m.band_key = o.band_key
),
hist_hits AS (
  SELECT DISTINCT l.doc_id FROM capped l JOIN capped r
    ON l.band = r.band AND l.band_key = r.band_key
   AND l.is_new AND NOT r.is_new
),
batch_dups AS (
  SELECT DISTINCT r.doc_id FROM capped l JOIN capped r
    ON l.band = r.band AND l.band_key = r.band_key
   AND l.is_new AND r.is_new AND l.doc_id < r.doc_id
)
SELECT n.doc_id AS doc_id,
  CASE WHEN hh.doc_id IS NOT NULL THEN 'dup_of_corpus'
       WHEN bd.doc_id IS NOT NULL THEN 'dup_in_batch'
       ELSE 'novel' END AS verdict
FROM newdocs n
LEFT JOIN hist_hits hh ON n.doc_id = hh.doc_id
LEFT JOIN batch_dups bd ON n.doc_id = bd.doc_id"""
    )


def conversation_dedup_sql(max_bucket: int = MAX_BUCKET) -> str:
    """Oracle for conversation-granularity near dedup: the SAME
    shingle->MinHash->banded-LSH chain as ``minhash_candidates_sql``,
    run over conversations reassembled in stable turn order (the T1
    invariant) instead of the documents table — the CTE named
    ``documents`` shadows the registered view, so the chain is reused
    verbatim. Dedup at conversation granularity is the unit the
    north-star KG job ingests (a re-logged conversation duplicates
    EVERY turn; turn-level template detection can't see it)."""
    from ontology_loader_spark.inputs.derive import TRANSCRIPTS_CTE

    conv_docs = """
documents AS (
  SELECT conv_id AS doc_id,
         string_agg(text, chr(10) ORDER BY turn_idx, text) AS text
  FROM transcripts GROUP BY conv_id
)"""
    return minhash_candidates_sql(max_bucket).replace(
        "WITH ",
        "WITH " + TRANSCRIPTS_CTE.strip() + "," + conv_docs.strip() + ",",
        1,
    )
