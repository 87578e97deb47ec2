"""Similarity search over embedding columns (``array<float>``).

Scores are computed on integer-quantized vectors (floor(x·10⁴)) so the
dot products are exact integers and the final cosine (integer dot /
sqrt of integer norm product, all in IEEE double with correctly-rounded
sqrt) is bit-identical between Spark and the DuckDB oracle — no
float-accumulation-order hazards.

Scale design:

- brute-force top-k: broadcast the (small) query set against the
  vector corpus — a map-side scored scan + per-query top-k window.
  At 100 TB the corpus side stays partition-parallel; only the query
  set broadcasts.
- LSH-bucketed variant: deterministic sign buckets on leading
  dimensions prune the corpus per query to one bucket — the scale
  path (bucket count tunable; per-bucket skew handled by AQE or
  bucket-splitting salts).
- near-dup pairs: all-pairs only within buckets in the scale path;
  the exposed oracle query keeps the exact threshold semantics.

The expressions use only built-in higher-order functions
(``zip_with`` / ``aggregate``) — whole-stage-codegen'd, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 10000
# Sign-LSH bucket bits. 2^LSH_DIMS buckets; at corpus scale pick
# dims ≈ log2(N / target_bucket_size) so buckets stay O(constant) —
# every entry point below takes ``dims`` as a parameter for that.
LSH_DIMS = 4
# Hot-bucket guard (the MAX_BUCKET analog of dedup.py:46): real
# embedding distributions concentrate in few orthants, so ``dims``
# only bounds the AVERAGE bucket — a skewed bucket can hold a large
# corpus fraction regardless. Buckets above this size are salt-split
# (near-dup pairs) or down-sampled (top-k candidates) before any
# within-bucket join.
MAX_BUCKET = 64


def _qdot(a: Column, b: Column) -> Column:
    """Exact integer dot product of floor-quantized vectors."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * QUANT).cast("long")
        * F.floor(y.cast("double") * QUANT).cast("long"),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _qdot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(FLOOR(CAST(x[1] AS DOUBLE) * {QUANT}) AS BIGINT) "
        f"* CAST(FLOOR(CAST(x[2] AS DOUBLE) * {QUANT}) AS BIGINT))) AS BIGINT)"
    )


def _cos(dot: Column, na2: Column, nb2: Column) -> Column:
    return dot.cast("double") / F.sqrt(na2.cast("double") * nb2.cast("double"))


def with_norm2(embeddings: DataFrame) -> DataFrame:
    return embeddings.withColumn("norm2", _qdot(F.col("embedding"), F.col("embedding")))


NORM2_CTE = f"""
vecs AS (
  SELECT vec_id, embedding, {_qdot_sql('embedding', 'embedding')} AS norm2
  FROM embeddings
)"""

# Query subset: every 100th vector (deterministic, scales with sf).
QUERY_PRED = "vec_id % 100 = 0"


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    queries: DataFrame | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query vector. Output: (query_id,
    neighbor_id, rank, cos_sim).

    ``queries`` selects the query subset by ``vec_id`` (default: the
    gate's deterministic ``QUERY_PRED`` sample). The corpus side stays
    partition-parallel; only the query side broadcasts — and only
    while it is small: at corpus-fraction query sizes pass
    ``broadcast_queries=False`` (the cross-score becomes a partitioned
    nested-loop; at that scale prefer the LSH/IVF paths anyway)."""
    vecs = with_norm2(embeddings).select("vec_id", "embedding", "norm2")
    qsrc = (
        vecs.filter(F.expr(QUERY_PRED))
        if queries is None
        else vecs.join(queries.select("vec_id"), "vec_id", "left_semi")
    )
    query_side = qsrc.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
    )
    if broadcast_queries:
        query_side = F.broadcast(query_side)
    scored = (
        vecs.join(query_side, F.col("vec_id") != F.col("query_id"))
        .withColumn("dot", _qdot(F.col("q_emb"), F.col("embedding")))
        .withColumn("cos_sim", _cos(F.col("dot"), F.col("q_norm2"), F.col("norm2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def brute_force_topk_sql(k: int = 5) -> str:
    dot = _qdot_sql("q.embedding", "v.embedding")
    return f"""
WITH {NORM2_CTE.strip()},
queries AS (SELECT * FROM vecs WHERE {QUERY_PRED}),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
    CAST({dot} AS DOUBLE)
      / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(v.norm2 AS DOUBLE)) AS cos_sim
  FROM queries q JOIN vecs v ON v.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {k}"""


def lsh_bucket(col: Column, dims: int = LSH_DIMS) -> Column:
    """Deterministic sign-LSH bucket over the first ``dims`` dims —
    2^dims buckets. Scale rule: dims ≈ log2(N / target_bucket_size)
    keeps per-bucket work constant as the corpus grows."""
    b = F.lit(0)
    for d in range(dims):
        b = b + F.when(F.element_at(col, d + 1) >= 0, F.lit(2 ** d)).otherwise(F.lit(0))
    return b.cast("int")


def lsh_bucket_sql(col: str, dims: int = LSH_DIMS) -> str:
    parts = " + ".join(
        f"(CASE WHEN {col}[{d + 1}] >= 0 THEN {2 ** d} ELSE 0 END)"
        for d in range(dims)
    )
    return f"CAST({parts} AS INTEGER)"


def _cap_bucket_members(vecs: DataFrame, max_bucket: int) -> DataFrame:
    """Deterministic per-bucket candidate sample: keep the first
    ``max_bucket`` members of each bucket in md5(vec_id) order. Buckets
    at or under the cap pass through unchanged; a hot bucket degrades
    to a uniform (hash-ordered, engine-reproducible) candidate pool of
    fixed size — the standard ANN bounded-candidate trade. One window
    over the bucket key; no UDF."""
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    return (
        vecs.withColumn("_brn", F.row_number().over(w))
        .filter(F.col("_brn") <= max_bucket)
        .drop("_brn")
    )


_CAP_BUCKET_SQL = """
capped AS (
  SELECT vec_id, embedding, norm2, bucket FROM (
    SELECT b.*, ROW_NUMBER() OVER (
      PARTITION BY bucket
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS _brn
    FROM bucketed b
  ) WHERE _brn <= {max_bucket}
)"""


def lsh_topk(
    embeddings: DataFrame,
    k: int = 3,
    dims: int = LSH_DIMS,
    broadcast_queries: bool = True,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """ANN variant: cosine top-k per query restricted to the query's
    LSH bucket — the 100 TB path (bucket join instead of broadcast
    cross-score). ``broadcast_queries=False`` switches the query side
    to a shuffle hash join on ``bucket`` for query sets too large to
    broadcast (both sides re-partition on the bucket key; per-bucket
    skew is AQE's skew-join case).

    ``max_bucket`` is the hot-bucket guard: the corpus side of the
    bucket join is capped to a deterministic ``max_bucket``-member
    sample per bucket, so per-query work is O(max_bucket) even when an
    orthant holds half the corpus. Queries are never dropped — only
    their candidate pool saturates."""
    vecs = with_norm2(embeddings).withColumn(
        "bucket", lsh_bucket(F.col("embedding"), dims)
    )
    queries = vecs.filter(F.expr(QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
        F.col("bucket"),
    )
    if broadcast_queries:
        queries = F.broadcast(queries)
    scored = (
        _cap_bucket_members(vecs, max_bucket).join(queries, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("dot", _qdot(F.col("q_emb"), F.col("embedding")))
        .withColumn("cos_sim", _cos(F.col("dot"), F.col("q_norm2"), F.col("norm2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def lsh_topk_sql(k: int = 3, max_bucket: int = MAX_BUCKET) -> str:
    dot = _qdot_sql("q.embedding", "v.embedding")
    bucket = lsh_bucket_sql("embedding")
    return f"""
WITH {NORM2_CTE.strip()},
bucketed AS (SELECT vec_id, embedding, norm2, {bucket} AS bucket FROM vecs),
{_CAP_BUCKET_SQL.format(max_bucket=max_bucket).strip()},
queries AS (SELECT * FROM bucketed WHERE {QUERY_PRED}),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
    CAST({dot} AS DOUBLE)
      / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(v.norm2 AS DOUBLE)) AS cos_sim
  FROM queries q JOIN capped v
    ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {k}"""


IVF_CELLS = 8       # at corpus scale: ≈ sqrt(N) cells, cells ≈ constant size
IVF_ITERS = 2       # Lloyd refinement rounds (fixed count — deterministic)
IVF_PROBES = 3      # multi-probe: query searches its top-P nearest cells


def _quantize(col: Column) -> Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )


_QUANTIZE_SQL = (
    f"list_transform(embedding, "
    f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
)


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two already-quantized long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _idot_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> x[1] * x[2])) AS BIGINT)"
    )


def _hash_unit(col: Column, salt: str) -> Column:
    """Deterministic uniform in (0, 1]: first 4 md5 hex digits of the
    salted key — engine- and partitioning-independent 'randomness'."""
    from ontology_loader_spark.operators.dedup import _hex4_spark

    h = _hex4_spark(F.md5(F.concat(F.lit(salt), col.cast("string"))))
    return (h + 1).cast("double") / F.lit(65537.0)


def kmeans_parallel_seed(
    embeddings: DataFrame,
    cells: int,
    rounds: int = 2,
    oversample: int | None = None,
) -> list[list[int]]:
    """Deterministic k-means|| seeding (Bahmani et al., VLDB'12) for
    the IVF coarse quantizer — the scale-grade alternative to
    first-k-ids init when the id order correlates with content.

    Per round, points are sampled with probability proportional to
    their cosine distance to the nearest already-chosen center, via
    **Efraimidis–Spirakis A-ES weighted sampling made deterministic**:
    key_i = u_i^(1/d_i) with u_i a salted md5-uniform in (0,1], take
    the top-``oversample`` keys (one TakeOrdered per round — no RNG,
    identical at any parallelism). The ≤ rounds·oversample+1 candidates
    are then weighted by their attraction counts (one assignment pass)
    and reduced to ``cells`` centers with a driver-side greedy
    weighted max-min pass over the tiny candidate set. Distributed
    passes touch the corpus O(rounds+1) times; only candidate rows
    ever reach the driver.

    Returns the seed centroids as quantized integer vectors (the same
    unit :func:`ivf_centroids` iterates on)."""
    import hashlib

    if oversample is None:
        oversample = 2 * cells
    vecs = embeddings.select(
        "vec_id", _quantize(F.col("embedding")).alias("q")
    ).localCheckpoint(eager=True)

    first = (
        vecs.withColumn("u", _hash_unit(F.col("vec_id"), "km-init:"))
        .orderBy(F.col("u").asc(), F.col("vec_id").asc())
        .limit(1)
        .collect()[0]
    )
    chosen = vecs.sparkSession.createDataFrame(
        [(0, list(first["q"]))], "cand_id int, c_emb array<long>"
    )
    cands = [list(first["q"])]

    for r in range(rounds):
        c = chosen.withColumn("c_norm2", _idot(F.col("c_emb"), F.col("c_emb")))
        best = (
            vecs.join(F.broadcast(c))
            .withColumn(
                "c_cos",
                _cos(_idot(F.col("q"), F.col("c_emb")),
                     _idot(F.col("q"), F.col("q")), F.col("c_norm2")),
            )
            .groupBy("vec_id")
            .agg(F.max("c_cos").alias("best_cos"), F.first("q").alias("q"))
            .withColumn("d", F.greatest(F.lit(0.0), F.lit(1.0) - F.col("best_cos")))
            .filter(F.col("d") > 0)
        )
        picked = (
            best.withColumn("u", _hash_unit(F.col("vec_id"), f"km{r}:"))
            .withColumn("key", F.pow(F.col("u"), F.lit(1.0) / F.col("d")))
            .orderBy(F.col("key").desc(), F.col("vec_id").asc())
            .limit(oversample)
            .select("vec_id", "q")
            .collect()
        )
        new = [list(p["q"]) for p in picked]
        cands.extend(new)
        chosen = vecs.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(cands)], "cand_id int, c_emb array<long>"
        )

    # weight candidates by attraction (one distributed pass)
    c = chosen.withColumn("c_norm2", _idot(F.col("c_emb"), F.col("c_emb")))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("cand_id").asc()
    )
    weights = {
        r["cand_id"]: r["w"]
        for r in (
            vecs.join(F.broadcast(c))
            .withColumn(
                "c_cos",
                _cos(_idot(F.col("q"), F.col("c_emb")),
                     _idot(F.col("q"), F.col("q")), F.col("c_norm2")),
            )
            .withColumn("rnk", F.row_number().over(w_assign))
            .filter(F.col("rnk") == 1)
            .groupBy("cand_id")
            .agg(F.count("*").alias("w"))
            .collect()
        )
    }

    # driver-side greedy weighted max-min over the tiny candidate set
    def cos(a: list[int], b: list[int]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    idx = list(range(len(cands)))
    start = max(
        idx,
        key=lambda i: (weights.get(i, 0),
                       hashlib.md5(str(i).encode()).hexdigest()),
    )
    centers = [start]
    while len(centers) < min(cells, len(cands)):
        def score(i: int) -> tuple:
            d = min(1.0 - cos(cands[i], cands[j]) for j in centers)
            return (weights.get(i, 0) * d * d,
                    hashlib.md5(str(i).encode()).hexdigest())
        nxt = max((i for i in idx if i not in centers), key=score)
        centers.append(nxt)
    return [cands[i] for i in centers]


def ivf_centroids(
    embeddings: DataFrame,
    cells: int | None = IVF_CELLS,
    iters: int = IVF_ITERS,
    init: str = "first",
) -> DataFrame:
    """Trained IVF coarse centroids via Lloyd's k-means — pure
    DataFrame iterations, no UDF, and **order-independent arithmetic**
    so the unrolled SQL oracle reproduces every round bit-for-bit:

    - vectors are floor-quantized to integers once;
    - the assignment metric is cosine, computed from exact integer
      dots (doubles only at the final divide — IEEE-identical across
      engines);
    - the update step re-quantizes each centroid as the
      component-wise ``floor(sum/count)`` of its members — integer
      sums are associative, so partial aggregation (map-side combine)
      cannot change the result, unlike a float mean.

    ``init`` picks the seeding:

    - ``"first"`` (default): the first ``cells`` vectors by id —
      deterministic and oracle-unrollable; the gate pins this path.
    - ``"kmeans||"``: deterministic k-means|| oversampling
      (:func:`kmeans_parallel_seed`) — pays O(rounds) extra corpus
      passes for seeds spread across the data, the right trade when
      id order correlates with content (ingest-ordered corpora) and
      the first-k-ids seed would start all centers in one region.

    Empty cells die (standard Lloyd). Returns (cell, c_emb: array<long>,
    c_norm2). Centroid components stay ≤ QUANT, so integer dots never
    overflow regardless of corpus size.

    ``cells=None`` auto-tunes to ≈ sqrt(N) (one count action), the
    standard IVF sizing: sqrt(N) cells of ~sqrt(N) vectors balances
    the centroid broadcast against per-cell search work. The oracle
    gate pins a literal count; the auto path is for API users."""
    vecs = embeddings.select(
        "vec_id", _quantize(F.col("embedding")).alias("q")
    ).localCheckpoint(eager=True)
    if cells is None:
        cells = max(4, int(round(vecs.count() ** 0.5)))
    if init == "kmeans||":
        seeds = kmeans_parallel_seed(embeddings, cells)
        cents = embeddings.sparkSession.createDataFrame(
            [(i, s) for i, s in enumerate(seeds)],
            "cell int, c_emb array<long>",
        )
    else:
        cents = vecs.filter(F.col("vec_id") < cells).select(
            F.col("vec_id").cast("int").alias("cell"), F.col("q").alias("c_emb")
        )
    for _ in range(iters):
        c = cents.withColumn("c_norm2", _idot(F.col("c_emb"), F.col("c_emb")))
        scored = vecs.join(F.broadcast(c)).withColumn(
            "c_cos",
            _cos(_idot(F.col("q"), F.col("c_emb")),
                 _idot(F.col("q"), F.col("q")), F.col("c_norm2")),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("c_cos").desc(), F.col("cell").asc()
        )
        assign = (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("vec_id", "cell", "q")
        )
        # update: exact integer component sums -> floor-mean (the only
        # wide op per round: one map-side-combinable groupBy)
        comp = assign.select("cell", F.posexplode("q").alias("pos", "v"))
        sums = comp.groupBy("cell", "pos").agg(
            F.floor(F.sum("v").cast("double") / F.count("*").cast("double"))
            .cast("long")
            .alias("m")
        )
        cents = (
            sums.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c_emb")
            )
        )
    return cents.withColumn("c_norm2", _idot(F.col("c_emb"), F.col("c_emb")))


def _ivf_centroids_sql(cells: int, iters: int) -> str:
    """Unrolled Lloyd iterations as chained CTEs (no recursive
    aggregation — DuckDB forbids it in recursive CTEs)."""
    ctes = [
        f"qvecs AS (SELECT vec_id, {_QUANTIZE_SQL} AS q FROM embeddings)",
        f"cents0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, q AS c_emb "
        f"FROM qvecs WHERE vec_id < {cells})",
    ]
    for i in range(iters):
        prev, cur = f"cents{i}", f"cents{i + 1}"
        dot = _idot_sql("v.q", "c.c_emb")
        vnorm = _idot_sql("v.q", "v.q")
        cnorm = _idot_sql("c.c_emb", "c.c_emb")
        ctes.append(f"""
assign{i} AS (
  SELECT vec_id, cell, q FROM (
    SELECT v.vec_id, c.cell, v.q,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY CAST({dot} AS DOUBLE)
                 / sqrt(CAST({vnorm} AS DOUBLE) * CAST({cnorm} AS DOUBLE))
                 DESC, c.cell) AS rnk
    FROM qvecs v CROSS JOIN {prev} c
  ) WHERE rnk = 1
)""")
        ctes.append(f"""
{cur} AS (
  SELECT cell, list(m ORDER BY pos) AS c_emb FROM (
    SELECT cell, pos,
      CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m
    FROM (
      SELECT cell, generate_subscripts(q, 1) AS pos, unnest(q) AS v
      FROM assign{i}
    ) GROUP BY cell, pos
  ) GROUP BY cell
)""")
    cnorm_final = _idot_sql("c_emb", "c_emb")
    ctes.append(
        f"cents AS (SELECT cell, c_emb, {cnorm_final} AS c_norm2 "
        f"FROM cents{iters})"
    )
    return ",\n".join(c.strip() for c in ctes)


def ivf_assign(
    embeddings: DataFrame,
    cells: int | None = IVF_CELLS,
    iters: int = IVF_ITERS,
    init: str = "first",
) -> DataFrame:
    """Final IVF assignment against the trained centroids: nearest =
    max quantized cosine, ties by cell id. Pure joins + window."""
    vecs = embeddings.select("vec_id", _quantize(F.col("embedding")).alias("q"))
    cents = ivf_centroids(embeddings, cells, iters, init).localCheckpoint(eager=True)
    scored = vecs.join(F.broadcast(cents)).withColumn(
        "c_cos",
        _cos(_idot(F.col("q"), F.col("c_emb")),
             _idot(F.col("q"), F.col("q")), F.col("c_norm2")),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(),
                                             F.col("cell").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "cell")
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 3,
    cells: int | None = IVF_CELLS,
    iters: int = IVF_ITERS,
    probes: int = IVF_PROBES,
    broadcast_queries: bool = True,
    init: str = "first",
) -> DataFrame:
    """IVF-flat ANN with trained centroids and multi-probe: per query,
    exact search restricted to the query's ``probes`` nearest cells.

    Scale shape: centroids broadcast (≈ sqrt(N) rows); the corpus side
    carries its cell id from one assignment pass; the probe join fans
    each query out to P cells. ``broadcast_queries=False`` switches the
    query side to a shuffle hash join on ``cell`` when the query set
    exceeds the broadcast threshold; per-cell skew is AQE's skew-join
    case or a cell-split salt."""
    vecs = with_norm2(embeddings).select("vec_id", "embedding", "norm2")
    cents = ivf_centroids(embeddings, cells, iters, init).localCheckpoint(eager=True)
    qv = embeddings.select("vec_id", _quantize(F.col("embedding")).alias("q"))

    cscored = qv.join(F.broadcast(cents)).withColumn(
        "c_cos",
        _cos(_idot(F.col("q"), F.col("c_emb")),
             _idot(F.col("q"), F.col("q")), F.col("c_norm2")),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("cell").asc()
    )
    ranked = cscored.withColumn("rnk", F.row_number().over(w_assign))
    assign = ranked.filter(F.col("rnk") == 1).select("vec_id", "cell")
    vc = vecs.join(assign, "vec_id")

    # query probe set: top-P cells per query vector
    probe = (
        ranked.filter(F.col("rnk") <= probes)
        .join(vecs.filter(F.expr(QUERY_PRED)), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm2").alias("q_norm2"),
            F.col("cell"),
        )
    )
    if broadcast_queries:
        probe = F.broadcast(probe)
    scored = (
        vc.join(probe, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("dot", _qdot(F.col("q_emb"), F.col("embedding")))
        .withColumn("cos_sim", _cos(F.col("dot"), F.col("q_norm2"), F.col("norm2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_sim")
    )


def ivf_topk_sql(
    k: int = 3,
    cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    probes: int = IVF_PROBES,
) -> str:
    dot_qc = _idot_sql("v.q", "c.c_emb")
    vnorm = _idot_sql("v.q", "v.q")
    dot_q = _qdot_sql("q.embedding", "v.embedding")
    return f"""
WITH {_ivf_centroids_sql(cells, iters)},
{NORM2_CTE.strip()},
qq AS (SELECT vec_id, {_QUANTIZE_SQL} AS q FROM embeddings),
cranked AS (
  SELECT vec_id, cell, rnk FROM (
    SELECT v.vec_id, c.cell,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY CAST({dot_qc} AS DOUBLE)
                 / sqrt(CAST({vnorm} AS DOUBLE) * CAST(c.c_norm2 AS DOUBLE))
                 DESC, c.cell) AS rnk
    FROM qq v CROSS JOIN cents c
  )
),
vc AS (SELECT v.*, a.cell FROM vecs v
       JOIN (SELECT vec_id, cell FROM cranked WHERE rnk = 1) a USING (vec_id)),
probe AS (
  SELECT r.vec_id AS query_id, v.embedding, v.norm2, r.cell
  FROM cranked r JOIN vecs v USING (vec_id)
  WHERE r.rnk <= {probes} AND {QUERY_PRED.replace('vec_id', 'r.vec_id')}
),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
    CAST({dot_q} AS DOUBLE)
      / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(v.norm2 AS DOUBLE)) AS cos_sim
  FROM probe q JOIN vc v ON v.cell = q.cell AND v.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {k}"""


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.35,
    dims: int = LSH_DIMS,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with cosine ≥ threshold, searched
    within LSH buckets (exact within-bucket; the bucket restriction is
    the recall/scale trade the LSH family makes).

    ``max_bucket`` is the hot-bucket guard (the ``dedup.MAX_BUCKET``
    analog): a bucket of B members would emit B(B-1)/2 pairs, and
    ``dims`` only bounds the AVERAGE bucket — orthant mass is not
    uniform, so one skewed bucket can reintroduce O(B²). Buckets over
    the cap are salt-split into ``ceil(B / max_bucket)`` deterministic
    sub-buckets (``vec_id % splits``) and pairs are emitted within
    sub-buckets only: per-bucket work drops from O(B²) to
    O(B · max_bucket) — linear in B — at the cost of cross-split pairs
    inside that hot bucket (recoverable by re-running with a rotated
    salt; under the cap, splits = 1 and semantics are exactly the
    uncapped join). Both the split rule and the pair join are plain
    Catalyst; the DuckDB oracle applies the identical rule."""
    vecs = with_norm2(embeddings).withColumn(
        "bucket", lsh_bucket(F.col("embedding"), dims)
    )
    counts = vecs.groupBy("bucket").agg(F.count("*").alias("bucket_n"))
    split = (
        vecs.join(F.broadcast(counts), "bucket")
        .withColumn(
            "splits",
            F.ceil(F.col("bucket_n").cast("double") / max_bucket).cast("long"),
        )
        .withColumn("sub", F.col("vec_id") % F.col("splits"))
    )
    left = split.select(
        "bucket",
        "sub",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"),
        F.col("norm2").alias("na2"),
    )
    right = split.select(
        "bucket",
        "sub",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        F.col("norm2").alias("nb2"),
    )
    return (
        left.join(right, ["bucket", "sub"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("dot", _qdot(F.col("ea"), F.col("eb")))
        .withColumn("cos_sim", _cos(F.col("dot"), F.col("na2"), F.col("nb2")))
        .filter(F.col("cos_sim") >= threshold)
        .select("a", "b", "cos_sim")
    )


def embedding_near_dups_sql(
    threshold: float = 0.35, max_bucket: int = MAX_BUCKET
) -> str:
    dot = _qdot_sql("l.embedding", "r.embedding")
    bucket = lsh_bucket_sql("embedding")
    return f"""
WITH {NORM2_CTE.strip()},
bucketed AS (SELECT vec_id, embedding, norm2, {bucket} AS bucket FROM vecs),
counts AS (SELECT bucket, COUNT(*) AS bucket_n FROM bucketed GROUP BY bucket),
split AS (
  SELECT b.vec_id, b.embedding, b.norm2, b.bucket,
    b.vec_id % CAST(CEIL(CAST(c.bucket_n AS DOUBLE) / {max_bucket}) AS BIGINT)
      AS sub
  FROM bucketed b JOIN counts c USING (bucket)
)
SELECT a, b, cos_sim FROM (
  SELECT l.vec_id AS a, r.vec_id AS b,
    CAST({dot} AS DOUBLE)
      / sqrt(CAST(l.norm2 AS DOUBLE) * CAST(r.norm2 AS DOUBLE)) AS cos_sim
  FROM split l JOIN split r
    ON l.bucket = r.bucket AND l.sub = r.sub AND l.vec_id < r.vec_id
) WHERE cos_sim >= {threshold}"""


# ------------------------------------------------- semantic dedup

SEMDEDUP_THRESHOLD = 0.35
SEMDEDUP_MAX_CELL = 128


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    cells: int | None = IVF_CELLS,
    iters: int = IVF_ITERS,
    max_cell: int = SEMDEDUP_MAX_CELL,
    init: str = "first",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    re-expressed on the engine's exact-integer k-means): cluster the
    embedding space with the trained IVF centroids, then WITHIN each
    cell mark a vector a semantic duplicate when a LOWER-id cell-mate
    sits at quantized cosine ≥ ``threshold``. Output
    (vec_id, cell, dup_of) — ``dup_of`` = the minimum such lower id,
    NULL = kept. Deterministic end to end (integer dots, doubles only
    at the final divide; min-id canonical), so the unrolled SQL oracle
    hash-matches.

    Scale shape: clustering is the verified ivf_centroids path
    (centroid set ≈ sqrt(N), broadcast); the pair search is an
    equi-join on cell — NEVER all-pairs across the corpus. Per-cell
    pair count is bounded by capping the CANDIDATE (lower/canonical)
    side of each cell at ``max_cell`` members in deterministic md5
    order — every vector is still judged (the probe side is uncapped),
    so a hot cell costs O(|cell| · max_cell), the same hot-bucket
    discipline as the LSH family. At 100 TB, cells ≈ sqrt(N) keeps
    cell populations ~sqrt(N); the md5 cap is the backstop for skewed
    clusters."""
    # shuffle_hash hints throughout: every join here keys on vec_id or
    # cell with both sides corpus-derived — hash joins sort neither
    # side (sort-merge would re-sort the embedding arrays' rows), and
    # AQE still downgrades to broadcast when a side is tiny
    assign = ivf_assign(embeddings, cells, iters, init)
    vq = embeddings.select(
        "vec_id", _quantize(F.col("embedding")).alias("q")
    ).withColumn("n2", _idot(F.col("q"), F.col("q")))
    members = vq.join(assign.hint("shuffle_hash"), "vec_id")

    w_cap = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    cand = (
        members.withColumn("crnk", F.row_number().over(w_cap))
        .filter(F.col("crnk") <= max_cell)
        .select(
            F.col("cell"),
            F.col("vec_id").alias("a"),
            F.col("q").alias("qa"),
            F.col("n2").alias("na"),
        )
    )
    probe = members.select(
        F.col("cell"),
        F.col("vec_id").alias("b"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb"),
    )
    dup = (
        cand.hint("shuffle_hash").join(probe, "cell")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos", _cos(_idot(F.col("qa"), F.col("qb")),
                        F.col("na"), F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .groupBy("b")
        .agg(F.min("a").alias("dup_of"))
        .withColumnRenamed("b", "vec_id")
    )
    return assign.join(dup.hint("shuffle_hash"), "vec_id", "left").select(
        "vec_id", "cell", "dup_of"
    )


def semantic_dedup_sql(
    threshold: float = SEMDEDUP_THRESHOLD,
    cells: int = IVF_CELLS,
    iters: int = IVF_ITERS,
    max_cell: int = SEMDEDUP_MAX_CELL,
) -> str:
    dot_vc = _idot_sql("v.q", "c.c_emb")
    vnorm = _idot_sql("v.q", "v.q")
    cnorm = _idot_sql("c.c_emb", "c.c_emb")
    dot_ab = _idot_sql("a.qa", "b.q")
    return f"""
WITH {_ivf_centroids_sql(cells, iters)},
qv AS (
  SELECT vec_id, q, {_idot_sql('q', 'q')} AS n2
  FROM (SELECT vec_id, {_QUANTIZE_SQL} AS q FROM embeddings)
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY CAST({dot_vc} AS DOUBLE)
                 / sqrt(CAST({vnorm} AS DOUBLE) * CAST({cnorm} AS DOUBLE))
                 DESC, c.cell) AS rnk
    FROM (SELECT vec_id, {_QUANTIZE_SQL} AS q FROM embeddings) v
    CROSS JOIN cents c
  ) WHERE rnk = 1
),
members AS (
  SELECT m.vec_id, m.cell, v.q, v.n2
  FROM assign m JOIN qv v USING (vec_id)
),
cand AS (
  SELECT cell, vec_id AS a, q AS qa, n2 AS na FROM (
    SELECT cell, vec_id, q, n2,
      ROW_NUMBER() OVER (PARTITION BY cell
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crnk
    FROM members
  ) WHERE crnk <= {max_cell}
),
dup AS (
  SELECT b, CAST(MIN(a) AS BIGINT) AS dup_of FROM (
    SELECT a.a, b.vec_id AS b,
      CAST({dot_ab} AS DOUBLE)
        / sqrt(CAST(a.na AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos
    FROM cand a JOIN members b ON a.cell = b.cell AND a.a < b.vec_id
  ) WHERE cos >= {threshold} GROUP BY b
)
SELECT m.vec_id, m.cell, d.dup_of
FROM assign m LEFT JOIN dup d ON d.b = m.vec_id"""
