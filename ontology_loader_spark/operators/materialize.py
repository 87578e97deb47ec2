"""KG materialization passes: the derived graph artifacts a knowledge
graph is SHIPPED with, beyond the raw closure.

The north rule's last stage is "graph materialize": after triple
extraction / linking / canonicalization, a production KG build emits a
family of derived tables next to the triples themselves —

* :func:`transitive_reduction` — the MINIMAL edge set whose closure
  equals the input's (the canonical "asserted hierarchy" view; ontology
  distributions conventionally ship both the reduced assertions and
  the full entailment closure — the reference loads the closure side
  via oaklib ``ancestors()``, this materializes its complement).
* :func:`term_path_to_root` — one canonical breadcrumb path per term
  (min-id parent at every step), the "context path" retrieval UIs and
  prompt-context builders attach to a linked entity.
* :func:`predicate_stats` — the per-predicate summary profile (edge
  volume, endpoint cardinalities, dangling share) a loader logs per
  release as drift QC.
* :func:`negative_sampling` — deterministic corrupted triples for
  KG-embedding training (TransE-style object corruption), the
  training-data-pipeline face of the KG: every positive (s, p, o)
  yields a hash-picked (s, p, o′) that is verifiably NOT entailed.

Scale shapes: reduction joins the (ontology-bounded) hierarchy pair
set against its own reachability — the same cost class as the ancestor
closure itself, on the closure's semi-naive fixpoint;
breadcrumbs follow a FUNCTIONAL min-parent map (one row per node per
round, O(depth) rounds); predicate stats are one map-side-combinable
groupBy; negative sampling is two broadcast-sized joins against the
numbered term universe. Nothing here touches the transcript fact
table.

Reference parity: ontology_processor.py materializes only the closure
(``ontology_processor.py:160``); the reduction / breadcrumb / negative
tables are this engine's additions for the 100 TB training-data story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count
from ontology_loader_spark.operators.closure import _reach, hierarchy_pairs
from ontology_loader_spark.partitioning import fits, join_side
from ontology_loader_spark.schemas import DEFAULT_PREDICATES

#: Both the engine loop and the SQL oracles bound path length at the
#: SAME constant, so the two sides cannot diverge on deep graphs: a
#: chain deeper than this is dropped by BOTH (and cycle-trapped chains,
#: which never reach a root, are dropped identically too).
MAX_PATH_HOPS = 64


def transitive_reduction(
    edges: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """Hierarchy edges NOT implied by a longer path: ``(subject,
    object)`` kept iff no path of length >= 2 connects subject to
    object.

    Strict reachability on the closure's shared semi-naive fixpoint,
    seeded with the edges (pair-set dedup terminates even on cycles; a
    2-cycle's edges are both redundant — each is implied by the
    length-3 path through the other, identically in both engines),
    then one join to flag edges with a (subject -> m -> ... -> object)
    witness. The walk's round bound is the distinct edge count plus
    one: a shortest path uses each edge at most once. That count also
    sizes the edge-keyed joins (``partitioning.py``'s join-side rule):
    ``redundant`` is a subset of the edges, and the walk's own step
    joins the edges. The walk is reach-sized, not edge-sized, so its
    semi-join is shuffle-hashed whatever ``n``.
    """
    hedges, n = hierarchy_pairs(edges, predicates)
    bc = fits("transitive_reduction", n)
    seed = hedges.select(F.col("subject").alias("s"), F.col("object").alias("o"))
    walk = _reach(seed, hedges, n, "transitive_reduction", bc)
    # redundant (s, o): some edge s->m with m reaching o (path >= 2)
    redundant = (
        hedges.alias("e")
        .join(join_side(hedges, bc).alias("m"), F.col("e.subject") == F.col("m.subject"))
        .join(
            walk.hint("shuffle_hash").alias("w"),
            (F.col("w.s") == F.col("m.object")) & (F.col("w.o") == F.col("e.object")),
            "left_semi",
        )
        .select(
            F.col("e.subject").alias("subject"),
            F.col("e.object").alias("object"),
        )
        .distinct()
    )
    return hedges.join(join_side(redundant, bc), ["subject", "object"], "left_anti")


def transitive_reduction_sql(predicates_sql: str) -> str:
    """DuckDB twin: recursive pair walk + NOT EXISTS length>=2 witness.
    Returns CTE text (caller wraps with WITH RECURSIVE + body)."""
    return f"""
hedges_r AS (
  SELECT DISTINCT subject, object FROM edges
  WHERE predicate IN {predicates_sql}
),
walk_r(s, o) AS (
  SELECT subject, object FROM hedges_r
  UNION
  SELECT w.s, e.object FROM walk_r w
  JOIN hedges_r e ON e.subject = w.o
)"""


TRANSITIVE_REDUCTION_BODY = """
SELECT e.subject AS subject, e.object AS object
FROM hedges_r e
WHERE NOT EXISTS (
  SELECT 1 FROM hedges_r m JOIN walk_r w
    ON w.s = m.object AND w.o = e.object
  WHERE m.subject = e.subject
)"""


def term_path_to_root(
    edges: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """One canonical breadcrumb per hierarchy node: follow the MIN-id
    parent at every step until a parentless node (root). Output
    ``(id, root, hops, path)`` with ``path = id>parent>...>root``.

    The min-parent map is FUNCTIONAL (exactly one row per child), so
    each node owns exactly one chain; chains that enter a cycle never
    reach a root and are dropped — by the same :data:`MAX_PATH_HOPS`
    bound on both engines, so the outputs stay identical by
    construction (unlike a guard-raise, a bounded-emission contract is
    the right semantics here because the synthetic hierarchy DOES
    contain cycles and they must not abort the load).

    O(depth) rounds over one row per unfinished node; the parent map
    is ontology-bounded and broadcasts.
    """
    hedges, _ = hierarchy_pairs(edges, predicates)
    min_parent = (
        hedges.groupBy("subject")
        .agg(F.min("object").alias("parent"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        hedges.select(F.col("subject").alias("id"))
        .union(hedges.select(F.col("object").alias("id")))
        .distinct()
    )
    active = nodes.select(
        "id",
        F.col("id").alias("cur"),
        F.col("id").alias("path"),
        F.lit(0).cast("int").alias("hops"),
    ).localCheckpoint(eager=True)
    done = None
    for _ in range(MAX_PATH_HOPS + 1):
        finished = active.join(
            F.broadcast(min_parent),
            active["cur"] == min_parent["subject"],
            "left_anti",
        )
        done = finished if done is None else done.unionByName(finished)
        done = done.localCheckpoint(eager=True)
        active, n_active = pin_count(
            active.join(
                F.broadcast(min_parent),
                active["cur"] == min_parent["subject"],
            ).select(
                "id",
                F.col("parent").alias("cur"),
                F.concat_ws(">", "path", "parent").alias("path"),
                (F.col("hops") + 1).cast("int").alias("hops"),
            )
        )
        if not n_active:
            break
    return done.select("id", F.col("cur").alias("root"), "hops", "path")


def term_path_to_root_sql(predicates_sql: str) -> str:
    """DuckDB twin: UNION ALL chain walk over the min-parent map,
    bounded at the same :data:`MAX_PATH_HOPS` (CTE text)."""
    return f"""
hedges_p AS (
  SELECT DISTINCT subject, object FROM edges
  WHERE predicate IN {predicates_sql}
),
min_parent AS (
  SELECT subject, MIN(object) AS parent FROM hedges_p GROUP BY subject
),
nodes_p AS (
  -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB evaluates a
  -- bare two-branch UNION CTE iteratively and can emit duplicates
  SELECT DISTINCT id FROM (
    SELECT subject AS id FROM hedges_p
    UNION ALL
    SELECT object AS id FROM hedges_p
  )
),
walkp(id, cur, path, hops) AS (
  SELECT id, id, id, 0 FROM nodes_p
  UNION ALL
  SELECT w.id, m.parent, w.path || '>' || m.parent,
         CAST(w.hops + 1 AS INTEGER)
  FROM walkp w JOIN min_parent m ON m.subject = w.cur
  WHERE w.hops < {MAX_PATH_HOPS}
)"""


TERM_PATH_BODY = """
SELECT w.id AS id, w.cur AS root, CAST(w.hops AS INTEGER) AS hops,
       w.path AS path
FROM walkp w
WHERE NOT EXISTS (SELECT 1 FROM min_parent m WHERE m.subject = w.cur)"""


def predicate_stats(edges: DataFrame, term_dict: DataFrame) -> DataFrame:
    """Per-predicate release-QC profile: ``(predicate, n_edges,
    n_subjects, n_objects, n_dangling_objects)`` — dangling = object id
    absent from the term dictionary (exact string match, the
    ``validate.dangling_edges`` rule, here as a per-predicate rate over
    ALL predicates rather than a row dump over hierarchy ones).

    One groupBy over the edge table; the distinct counts run as
    Spark's two-phase partial-distinct aggregate, and the dangling
    flag comes from a broadcast left join against the (ontology-
    bounded) id column — no shuffle of the dict side.
    """
    ids = term_dict.select(F.col("id").alias("known_id")).distinct()
    flagged = edges.join(
        F.broadcast(ids), edges["object"] == ids["known_id"], "left"
    )
    return flagged.groupBy("predicate").agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.count_distinct("subject").cast("bigint").alias("n_subjects"),
        F.count_distinct("object").cast("bigint").alias("n_objects"),
        F.sum(F.when(F.col("known_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dangling_objects"),
    )


PREDICATE_STATS_BODY = """
SELECT e.predicate AS predicate,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT e.subject) AS BIGINT) AS n_subjects,
       CAST(COUNT(DISTINCT e.object) AS BIGINT) AS n_objects,
       CAST(SUM(CASE WHEN t.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dangling_objects
FROM edges e
LEFT JOIN (SELECT DISTINCT id FROM term_dict) t ON t.id = e.object
GROUP BY e.predicate"""


def negative_sampling(
    direct_rel: DataFrame,
    relevant: DataFrame,
) -> DataFrame:
    """Deterministic TransE-style negatives: for every positive
    ``(subject, predicate, object)``, corrupt the object to the
    ``md5(s|p|o) % |universe|``-th relevant term (1-based rank by id).
    Rows where the pick collides with the true object, or where the
    corrupted triple is itself a positive, are DROPPED (not re-drawn)
    — so the sample is a deterministic function of the triple set
    alone, reproducible across engines, row orders, and cluster sizes.

    Output ``(subject, predicate, neg_object)``. The universe ranking
    sorts only the ontology-bounded relevant set (a broadcast-sized
    dim — the single-partition window never sees fact rows), and both
    joins against it broadcast. md5 -> first 8 hex chars -> int is the
    repo's cross-engine hash idiom (``operators/dedup.py``).
    """
    w = Window.orderBy("id")
    universe, n = pin_count(
        relevant.select("id").withColumn("rnk", F.row_number().over(w).cast("bigint"))
    )
    pick = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "subject", "predicate", "object")),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(n)
        + 1
    )
    cand = (
        direct_rel.select("subject", "predicate", "object")
        .withColumn("pick_rnk", pick)
        .join(
            F.broadcast(universe),
            F.col("pick_rnk") == universe["rnk"],
        )
        .select(
            "subject",
            "predicate",
            "object",
            F.col("id").alias("neg_object"),
        )
        .filter(F.col("neg_object") != F.col("object"))
    )
    positives = direct_rel.select(
        F.col("subject").alias("p_s"),
        F.col("predicate").alias("p_p"),
        F.col("object").alias("p_o"),
    )
    return (
        cand.join(
            positives,
            (cand["subject"] == positives["p_s"])
            & (cand["predicate"] == positives["p_p"])
            & (cand["neg_object"] == positives["p_o"]),
            "left_anti",
        )
        .select("subject", "predicate", "neg_object")
        .distinct()
    )


NEGATIVE_SAMPLING_BODY = """
SELECT DISTINCT c.subject AS subject, c.predicate AS predicate,
       c.neg_object AS neg_object
FROM (
  SELECT d.subject, d.predicate, d.object, u.id AS neg_object
  FROM direct_rel d
  JOIN (
    SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rnk,
           COUNT(*) OVER () AS n
    FROM relevant
  ) u
    ON u.rnk = CAST(('0x' || substr(
         md5(d.subject || '|' || d.predicate || '|' || d.object), 1, 8))
         AS BIGINT) % u.n + 1
) c
WHERE c.neg_object <> c.object
  AND NOT EXISTS (
    SELECT 1 FROM direct_rel p
    WHERE p.subject = c.subject AND p.predicate = c.predicate
      AND p.object = c.neg_object
  )"""
