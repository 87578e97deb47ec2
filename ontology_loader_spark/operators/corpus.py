"""Training-corpus preparation operators — the steps between "deduped
documents" and "training batches" in a large-scale pipeline: duplicate
-cluster resolution, leakage-safe splits, PII scrubbing, and
token-budget packing.

All hashing is md5-based (shared with the DuckDB oracles); no UDFs —
every operator is whole-stage-codegen'd Catalyst.

Scale notes per operator are inline; the common theme: keys are
uniform hashes (no skew), windows are either per-doc or explicitly
flagged where a global order is involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontology_loader_spark.operators.dedup import (
    MAX_BUCKET,
    _hex4_spark,
    _hex4_sql,
    minhash_candidate_pairs,
    ngram_jaccard,
)

# ------------------------------------------------------- dup clusters

DUP_THRESHOLD = 0.2


def duplicate_clusters(
    documents: DataFrame,
    threshold: float = DUP_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Resolve verified near-duplicate pairs into clusters: connected
    components over the (LSH candidate ∧ jaccard ≥ threshold) graph,
    canonical = min doc_id per component. Output
    (doc_id, canonical_id); singletons map to themselves.

    Component resolution auto-dispatches on the MEASURED verified-pair
    count (``connected_components_auto``): bounded dup graphs take the
    driver-dict path (zero fixpoint iterations; only pairs collect —
    the corpus-scale node set stays distributed), and a dup graph that
    grows with the corpus falls over to the iterative min-label
    variant (size-aware partitioning, never collects). The verify
    stage, :func:`ngram_jaccard`, joins the candidate pairs by the one
    measured join-side rule (``partitioning.py``): the per-bucket cap
    bounds pairs per bucket, but bucket count grows with the corpus."""
    from ontology_loader_spark.transcripts.unionfind import (
        connected_components_auto,
    )

    pairs = ngram_jaccard(
        documents, minhash_candidate_pairs(documents, max_bucket)
    ).filter(F.col("jaccard") >= threshold)
    sym = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    nodes = documents.select(F.col("doc_id").alias("node"))
    comps = connected_components_auto(nodes, sym.distinct())
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def duplicate_clusters_sql(
    threshold: float = DUP_THRESHOLD, max_bucket: int = MAX_BUCKET
) -> str:
    from ontology_loader_spark.operators.dedup import ngram_jaccard_sql

    jacc = ngram_jaccard_sql(max_bucket)
    # wrap the jaccard query as a CTE and run min-label components
    body = f"""
, dup AS (
  SELECT a, b FROM jacc WHERE jaccard >= {threshold}
),
sym AS (
  SELECT a AS u, b AS v FROM dup UNION SELECT b AS u, a AS v FROM dup
),
cc(node, reach) AS (
  SELECT doc_id AS node, doc_id AS reach FROM documents
  UNION
  SELECT c.node, s.v AS reach FROM cc c JOIN sym s ON c.reach = s.u
)
SELECT node AS doc_id, MIN(reach) AS canonical_id FROM cc GROUP BY node"""
    # jacc is a full WITH query; re-express its body as a CTE
    head, _, tail = jacc.partition("\nSELECT p.a AS a")
    return (
        "WITH RECURSIVE "
        + head.split("WITH ", 1)[1].rstrip()
        + ",\njacc AS (\nSELECT p.a AS a"
        + tail
        + ")"
        + body
    )


# ------------------------------------------------------------- splits

TEST_FRAC = 0.125  # 8192/65536 — exact in the hex4 space


def train_test_split(
    documents: DataFrame, key: str = "doc_id", test_frac: float = TEST_FRAC
) -> DataFrame:
    """Deterministic, engine-independent split: the first 4 md5 hex
    digits of the key value (0..65535) against the fraction cut.
    Output (key, split). Leakage control = key choice: split on
    ``conv_id``/source-document key, never the shard row id, so all
    rows of one logical unit land on one side. Uniform hash — no skew,
    no shuffle (a projection)."""
    cut = int(65536 * (1 - test_frac))
    h = _hex4_spark(F.md5(F.col(key).cast("string")))
    return documents.select(
        F.col(key),
        F.when(h < cut, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )


def train_test_split_sql(key: str = "doc_id", test_frac: float = TEST_FRAC) -> str:
    cut = int(65536 * (1 - test_frac))
    h = _hex4_sql(f"md5(CAST({key} AS VARCHAR))")
    return f"""
SELECT {key},
  CASE WHEN {h} < {cut} THEN 'train' ELSE 'test' END AS split
FROM documents"""


# ---------------------------------------------- domain-mix resampling

#: per-domain keep rates in the exact hex4 space (x/65536) — the gate
#: uses a doc_id modulus as the stand-in domain; production passes a
#: real domain column and its mixing weights
DOMAIN_MOD = 4
DOMAIN_RATES = (65536, 32768, 16384, 8192)  # 1, 1/2, 1/4, 1/8


def stratified_sample(
    documents: DataFrame,
    key: str = "doc_id",
    domain_mod: int = DOMAIN_MOD,
    rates: tuple[int, ...] = DOMAIN_RATES,
) -> DataFrame:
    """Deterministic importance resampling for domain mixing: each
    document keeps with its domain's target rate, decided by an
    engine-independent hash cut (first 4 md5 hex digits of the key,
    salted by 'mix:', against ``rates[domain]/65536``). A pure
    projection — no shuffle, no RNG, reproducible across engines,
    cluster sizes, and reruns; rates are exact multiples of 1/65536 so
    the expected mix is exact. Output (key, domain, kept).

    The same cut-hash family as :func:`train_test_split` but a
    DIFFERENT salt: sampling decisions must be independent of split
    decisions or the test split would be biased toward kept domains."""
    domain = (F.col(key) % domain_mod).cast("int")
    h = _hex4_spark(F.md5(F.concat(F.lit("mix:"), F.col(key).cast("string"))))
    cut = F.element_at(
        F.array(*[F.lit(r) for r in rates]), domain + 1
    )
    return documents.select(
        F.col(key),
        domain.alias("domain"),
        (h < cut).alias("kept"),
    )


def stratified_sample_sql(
    key: str = "doc_id",
    domain_mod: int = DOMAIN_MOD,
    rates: tuple[int, ...] = DOMAIN_RATES,
) -> str:
    h = _hex4_sql(f"md5('mix:' || CAST({key} AS VARCHAR))")
    cases = " ".join(
        f"WHEN {d} THEN {r}" for d, r in enumerate(rates)
    )
    return f"""
SELECT {key},
  CAST({key} % {domain_mod} AS INTEGER) AS domain,
  {h} < (CASE CAST({key} % {domain_mod} AS INTEGER) {cases} END) AS kept
FROM documents"""


# -------------------------------------------------------- PII scrub

#: deliberately simple character-class patterns — identical semantics
#: in Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround
PII_PATTERNS = (
    # order matters: the most specific shapes first — the phone pattern
    # would otherwise swallow SSNs (both are digit runs with dashes)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", "[+]?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
)


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Redact common PII shapes in one projection pass (chained
    ``regexp_replace`` — codegen'd, no UDF). Output
    (doc_id, scrubbed_text, n_redactions)."""
    scrubbed = F.col("text")
    for _, pattern, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pattern, token)
    n = F.lit(0).cast("long")
    for _, pattern, _tok in PII_PATTERNS:
        # count = length delta of removing the matches
        n = n + (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), pattern, F.lit("")))
        )
    return documents.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        (n > 0).alias("had_pii"),
    )


def pii_scrub_sql() -> str:
    scrubbed = "text"
    for _, pattern, token in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pattern}', '{token}', 'g')"
    deltas = " + ".join(
        f"(length(text) - length(regexp_replace(text, '{pattern}', '', 'g')))"
        for _, pattern, _t in PII_PATTERNS
    )
    return f"""
SELECT doc_id, {scrubbed} AS scrubbed_text,
       ({deltas}) > 0 AS had_pii
FROM documents"""


# ------------------------------------------------------------ packing

PACK_BUDGET = 256  # tokens per pack (gate-scale; production: ctx length)


#: synthetic range-bucket width for auto-grouped packing: one window
#: partition per AUTO_PACK_SPAN consecutive doc_ids
AUTO_PACK_SPAN = 65_536


def pack_documents(
    documents: DataFrame,
    budget: int = PACK_BUDGET,
    group_col: str | None = None,
    group_span: int | None = None,
    auto_span: int | None = AUTO_PACK_SPAN,
) -> DataFrame:
    """Concatenate-and-chunk packing (LLM-pretraining style): documents
    are laid out in doc_id order, and each doc's pack is the chunk its
    START offset falls into — docs may span a boundary, exactly like a
    token stream cut every ``budget`` tokens. Output
    (doc_id, n_tokens, pack_id, pack_offset).

    Scale path — grouped running total: with ``group_span`` (or an
    explicit ``group_col`` that is monotone in ``doc_id``, i.e. a range
    bucket), the running total is computed as a per-group window
    (hash-partitioned on the group — partition-parallel) plus a
    prefix-summed per-group base offset. The base-offset window runs
    over ONE ROW PER GROUP (corpus_size / group_span rows — trivially
    single-partition-safe), so no full-corpus data ever serializes
    through one task, and the result is IDENTICAL to the global form
    (the grouped gate hashes against the same global SQL oracle).
    Callers that pass neither parameter are AUTO-DISPATCHED onto the
    grouped machinery with a synthetic ``doc_id div auto_span`` range
    bucket whenever ``doc_id`` is numeric — the global-order window (a
    single-partition sort of the corpus) only runs for non-numeric keys
    or an explicit ``auto_span=None``, and is a trap above ~10M docs."""
    numeric_id = documents.schema["doc_id"].dataType.typeName() in (
        "byte", "short", "integer", "long", "decimal",
    )
    if group_col is None and group_span is None and auto_span and numeric_id:
        group_span = auto_span

    n_tokens = F.size(F.expr("filter(split(text, ' '), t -> t <> '')"))

    if group_col is None and group_span is None:
        toks = documents.select("doc_id", n_tokens.alias("n_tokens"))
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        out = toks
    else:
        grp = (
            F.floor(F.col("doc_id") / group_span)
            if group_col is None
            else F.col(group_col)
        )
        g = documents.select(
            "doc_id", n_tokens.alias("n_tokens"), grp.alias("_grp")
        )
        # tiny side: one row per group; its global-order window is the
        # two-level-scan trick, not a corpus-wide sort
        wg = Window.orderBy("_grp").rowsBetween(Window.unboundedPreceding, -1)
        base = (
            g.groupBy("_grp")
            .agg(F.sum("n_tokens").alias("_grp_total"))
            .select(
                "_grp",
                F.coalesce(F.sum("_grp_total").over(wg), F.lit(0)).alias("_base"),
            )
        )
        # big side: per-group window, hash-partitioned on the group key
        win = Window.partitionBy("_grp").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = F.col("_base") + F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
        out = g.join(F.broadcast(base), "_grp")

    return out.select(
        "doc_id",
        "n_tokens",
        F.floor(cum / budget).cast("long").alias("pack_id"),
        (cum % budget).cast("long").alias("pack_offset"),
    )


def pack_documents_sql(budget: int = PACK_BUDGET) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {budget})
       AS BIGINT) AS pack_id,
  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % {budget}
       AS BIGINT) AS pack_offset
FROM toks"""


# ----------------------------------------------------------- chunking

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Sliding-window chunking for embedding/retrieval prep: overlap
    tokens of context carry across chunk boundaries. Start positions
    stop at ``size - overlap`` so every chunk contributes new content;
    short docs yield one chunk. Pure explode + slice — the fan-out is
    ~size/stride rows per doc, partition-parallel. Output
    (doc_id, chunk_idx, chunk_text, n_tokens)."""
    stride = chunk_tokens - overlap
    ts = F.expr("filter(split(text, ' '), t -> t <> '')")
    return (
        documents.select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.lit(1), F.size("ts") - overlap),
                    F.lit(stride),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("int").alias("chunk_idx"),
            F.expr(f"array_join(slice(ts, start, {chunk_tokens}), ' ')").alias(
                "chunk_text"
            ),
            F.least(
                F.lit(chunk_tokens), F.size("ts") - F.col("start") + 1
            ).cast("int").alias("n_tokens"),
        )
    )


def chunk_documents_sql(
    chunk_tokens: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> str:
    stride = chunk_tokens - overlap
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
starts AS (
  SELECT doc_id, ts,
         unnest(range(1, GREATEST(1, len(ts) - {overlap}) + 1, {stride})) AS start
  FROM toks WHERE len(ts) > 0
)
SELECT doc_id,
  CAST((start - 1) / {stride} AS INTEGER) AS chunk_idx,
  array_to_string(ts[start:start + {chunk_tokens - 1}], ' ') AS chunk_text,
  CAST(LEAST({chunk_tokens}, len(ts) - start + 1) AS INTEGER) AS n_tokens
FROM starts"""


# ------------------------------------------------- corpus preparation

MIN_TOKENS = 30
MAX_STOPWORD_RATIO = 0.12
MAX_SHINGLE_REP = 0.2   # Gopher-style duplicate-3-gram fraction ceiling
MAX_TOP_TOKEN = 0.2     # most frequent token's share ceiling
# the repetition rule only applies above a length floor — short docs
# trivially max the top-token share and belong to the low_quality rule
REP_MIN_SHINGLES = MIN_TOKENS - 2


def prepare_training_corpus(
    documents: DataFrame,
    include_containment: bool = False,
) -> DataFrame:
    """The end-to-end corpus gate: one verdict per document, first
    matching rule wins —

    1. ``exact_dup``     — not the canonical copy of its content digest
    2. ``near_dup``      — not the canonical member of its LSH/jaccard
                           duplicate cluster
    3. ``contained``     — (``include_containment=True`` only) the
                           smaller side of an asymmetric containment
                           pair: a quote/wrapper copy symmetric
                           jaccard misses
    4. ``contaminated``  — shares ≥K winnowing fingerprints with a
                           benchmark doc
    5. ``repetitive``    — Gopher-style repetition rule: duplicate
                           3-gram fraction or top-token share over the
                           ceiling
    6. ``low_quality``   — under the token floor or over the stopword
                           ceiling
    7. ``kept``

    Composition of the individually-gate-verified operators. Verdict
    resolution is a PRIORITY UNION, not a join: every stage emits
    (doc_id, priority), the corpus base contributes the lowest
    priority ("kept"), and the verdict is
    ``groupBy(doc_id).min(priority)`` — one map-side-combinable
    aggregate on a uniform key. No flag set is ever broadcast or
    joined against the corpus scan, which matters because the
    dup/low-quality doc_id sets scale WITH the corpus (a large
    fraction of a web crawl is duplicates) — a broadcast of those
    sides would be a driver/executor OOM at 100 TB. The verify stages
    (:func:`ngram_jaccard`, :func:`containment_dedup`) broadcast their
    candidate pairs only under the one measured join-side rule
    (``partitioning.py``)."""
    from ontology_loader_spark.operators.dedup import (
        containment_dedup,
        exact_duplicates,
    )
    from ontology_loader_spark.operators.text import (
        benchmark_contamination,
        repetition_stats,
        text_quality,
    )

    stages: list[tuple[str, DataFrame]] = [
        (
            "exact_dup",
            exact_duplicates(documents)
            .filter(F.col("canonical_id") != F.col("doc_id"))
            .select("doc_id"),
        ),
        (
            "near_dup",
            duplicate_clusters(documents)
            .filter(F.col("canonical_id") != F.col("doc_id"))
            .select("doc_id"),
        ),
    ]
    if include_containment:
        stages.append(
            (
                "contained",
                containment_dedup(documents)
                .select(F.col("contained").alias("doc_id"))
                .distinct(),
            )
        )
    stages += [
        ("contaminated", benchmark_contamination(documents)
         .select("doc_id").distinct()),
        (
            "repetitive",
            repetition_stats(documents)
            .filter(
                (F.col("n_shingles") >= REP_MIN_SHINGLES)
                & (
                    (F.col("shingle_rep_ratio") > MAX_SHINGLE_REP)
                    | (F.col("top_token_ratio") > MAX_TOP_TOKEN)
                )
            )
            .select("doc_id"),
        ),
        (
            "low_quality",
            text_quality(documents)
            .filter(
                (F.col("n_tokens") < MIN_TOKENS)
                | (F.col("stopword_ratio") > MAX_STOPWORD_RATIO)
            )
            .select("doc_id"),
        ),
    ]

    labels = [label for label, _ in stages] + ["kept"]
    kept_priority = len(labels)

    acc = documents.select(
        "doc_id", F.lit(kept_priority).alias("priority")
    )
    for priority, (_, df) in enumerate(stages, start=1):
        acc = acc.unionByName(
            df.select("doc_id", F.lit(priority).alias("priority"))
        )

    label_expr = None
    for priority, label in enumerate(labels, start=1):
        label_expr = (
            F.when(F.col("priority") == priority, F.lit(label))
            if label_expr is None
            else label_expr.when(F.col("priority") == priority, F.lit(label))
        )

    return (
        acc.groupBy("doc_id")
        .agg(F.min("priority").alias("priority"))
        .select("doc_id", label_expr.alias("verdict"))
    )


def prepare_training_corpus_sql(include_containment: bool = False) -> str:
    from ontology_loader_spark.operators.dedup import (
        EXACT_DUP_SQL,
        containment_dedup_sql,
    )
    from ontology_loader_spark.operators.text import (
        benchmark_contamination_sql,
        repetition_stats_sql,
        text_quality_sql,
    )

    contained_cte = (
        f""",
contained AS (
  SELECT DISTINCT contained AS doc_id FROM ({containment_dedup_sql()})
)"""
        if include_containment
        else ""
    )
    contained_when = (
        "WHEN x.doc_id IS NOT NULL THEN 'contained'\n       "
        if include_containment
        else ""
    )
    contained_join = (
        "LEFT JOIN contained x ON x.doc_id = d.doc_id\n"
        if include_containment
        else ""
    )
    return f"""
WITH exact AS (
  SELECT doc_id FROM ({EXACT_DUP_SQL}) WHERE canonical_id <> doc_id
),
near AS (
  SELECT doc_id FROM ({duplicate_clusters_sql()}) WHERE canonical_id <> doc_id
),
contam AS (
  SELECT DISTINCT doc_id FROM ({benchmark_contamination_sql()})
),
rep AS (
  SELECT doc_id FROM ({repetition_stats_sql()})
  WHERE n_shingles >= {REP_MIN_SHINGLES}
    AND (shingle_rep_ratio > {MAX_SHINGLE_REP}
         OR top_token_ratio > {MAX_TOP_TOKEN})
),
lowq AS (
  SELECT doc_id FROM ({text_quality_sql()})
  WHERE n_tokens < {MIN_TOKENS} OR stopword_ratio > {MAX_STOPWORD_RATIO}
){contained_cte}
SELECT d.doc_id,
  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       {contained_when}WHEN c.doc_id IS NOT NULL THEN 'contaminated'
       WHEN r.doc_id IS NOT NULL THEN 'repetitive'
       WHEN q.doc_id IS NOT NULL THEN 'low_quality'
       ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN exact e ON e.doc_id = d.doc_id
LEFT JOIN near n ON n.doc_id = d.doc_id
LEFT JOIN contam c ON c.doc_id = d.doc_id
LEFT JOIN rep r ON r.doc_id = d.doc_id
LEFT JOIN lowq q ON q.doc_id = d.doc_id
{contained_join}"""


# ----------------------------------------------- domain mixture weights

MIX_PPM = 1_000_000


def domain_mixture_weights(
    documents: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Temperature-based domain mixing weights (the √n rule — α = 0.5
    between proportional α=1 and uniform α=0): each domain's sampling
    weight is isqrt(n_docs), normalized to parts-per-million. Output
    (group, n_docs, weight, share_ppm). Up-weights small domains
    relative to raw proportions without letting one giant crawl
    dominate — the standard mixture step before stratified sampling.

    Exactness: IEEE sqrt is correctly rounded, so floor(sqrt(n)) of an
    exact integer is engine-identical; the normalization is integer
    cross-multiplication over a window whose row count is the number
    of DOMAINS (dictionary-bounded — the one place an unpartitioned
    window is safe by construction)."""
    counts = documents.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs")
    )
    w = counts.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long")
    )
    total = Window.partitionBy()
    return (
        w.withColumn("tw", F.sum("weight").over(total))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "weight",
            F.expr(f"(weight * {MIX_PPM}) div tw").cast("long").alias("share_ppm"),
        )
    )


def domain_mixture_weights_sql(group_col: str = "source") -> str:
    return f"""
WITH counts AS (
  SELECT {group_col} AS grp, COUNT(*) AS n_docs
  FROM documents GROUP BY {group_col}
),
w AS (
  SELECT grp, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
  FROM counts
)
SELECT grp AS {group_col}, n_docs, weight,
       CAST((weight * {MIX_PPM}) // SUM(weight) OVER () AS BIGINT) AS share_ppm
FROM w"""


# -------------------------------------------------- top-k per domain

TOPK_PER_DOMAIN = 5


def topk_per_domain(
    documents: DataFrame, k: int = TOPK_PER_DOMAIN, group_col: str = "source"
) -> DataFrame:
    """The k longest documents per domain (deterministic tiebreak on
    doc_id) — the "best representatives per source" selection step.
    Output (group, rank, doc_id, n_chars).

    Scale shape: a ranked window with the ``rank <= k`` filter
    DIRECTLY over it, which Catalyst rewrites via WindowGroupLimit
    into a per-partition partial top-k BEFORE the shuffle (pinned by
    plan test) — each map task forwards at most k rows per group, so
    the exchange carries ~k·|groups| rows, not the corpus, and the hot
    domain that would serialize a naive per-group sort never
    materializes its full row set on one task."""
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        documents.select(group_col, "doc_id", "n_chars")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(group_col), F.col("rank").cast("long").alias("rank"),
                "doc_id", "n_chars")
    )


def topk_per_domain_sql(k: int = TOPK_PER_DOMAIN, group_col: str = "source") -> str:
    return f"""
SELECT {group_col}, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
FROM (
  SELECT {group_col}, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY {group_col}
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
)
WHERE rank <= {k}"""


# ------------------------------------------------- training order

SHUFFLE_SALT = "shuf:"
SHUFFLE_RANGE_PARTITIONS = 32


def shuffle_order(
    documents: DataFrame, n_partitions: int = SHUFFLE_RANGE_PARTITIONS
) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a global
    position 1..N by md5 rank — reproducible across engines, runs, and
    cluster sizes (the hash IS the order; no RNG state). Output
    (doc_id, shuffle_pos).

    The scale problem is the global rank: ``row_number() OVER (ORDER
    BY h)`` serializes the corpus through one task. Standard
    distributed fix, expressed declaratively: range-partition on the
    hash (boundaries may vary — they cannot change the rank, only
    where it's computed), rank WITHIN each partition, then add
    per-partition offsets (a cumulative sum over the tiny partition-
    size table, broadcast back). Two narrow passes, no global sort on
    one machine — the same shape ``zipWithIndex`` uses, kept in the
    DataFrame API."""
    h = F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string")))
    d = documents.select("doc_id", h.alias("h")).repartitionByRange(
        n_partitions, "h"
    )
    d = d.withColumn("pid", F.spark_partition_id())
    wl = Window.partitionBy("pid").orderBy("h")
    local = d.withColumn("local_rank", F.row_number().over(wl))
    sizes = local.groupBy("pid").agg(F.count("*").alias("sz"))
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "offset", F.coalesce(F.sum("sz").over(wo), F.lit(0))
    ).select("pid", "offset")
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            (F.col("offset") + F.col("local_rank")).cast("long").alias(
                "shuffle_pos"
            ),
        )
    )


def shuffle_order_sql() -> str:
    return f"""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR))
       ) AS BIGINT) AS shuffle_pos
FROM documents"""
