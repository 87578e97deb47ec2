"""Canonicalization of linked mentions and mention-stream provenance.

The north rule's canonicalization stage: linked mentions must resolve
to CANONICAL term ids before they join the KG — a transcript that
names a retired term (obsolete id with a ``replaced_by`` chain) should
contribute its assertion to the live replacement, exactly the
alt-id/obsolete-term redirect-map semantics of the north star. The
reference purges obsolete terms store-side (``mongodb_loader.py:19-44``)
but never re-points references; this closes that loop corpus-side.

* :func:`canonical_links` — top-1 entity links over a dictionary that
  INCLUDES obsolete surfaces, then one broadcast left join through the
  redirect map (``operators/redirects.py``): output keeps both the raw
  linked id and the canonical id (coalesce(redirect.dst, raw)).
* :func:`term_activity` — per-term corpus lifetime profile (first/last
  day seen, active-day count, mention/conversation volume): the
  temporal-KG facet a loader attaches to each term per release.

Scale shapes: the redirect map is obsolete-terms-only (ontology-
bounded, broadcast); detection is the shared Arrow slot; both
aggregates are map-side-combinable groupBys keyed on term_id, so
hub-term skew is additive partials only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontology_loader_spark.operators.redirects import redirect_map
from ontology_loader_spark.transcripts.mentions import (
    detect_mentions,
    top1_links,
)


def canonical_links(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict_ext: DataFrame,
    term_dict: DataFrame,
) -> DataFrame:
    """Redirect-resolved top-1 links: ``(conv_id, turn_idx,
    raw_term_id, canonical_id)``. A link to a live term passes
    through; a link to an obsolete term follows its ``replaced_by``
    chain to the live end (chains resolved to fixpoint by
    :func:`~ontology_loader_spark.operators.redirects.redirect_map`).
    """
    links = top1_links(
        detect_mentions(spark, transcripts, mention_dict_ext)
    )
    redirects = redirect_map(term_dict).select(
        F.col("src").alias("raw_term_id"), F.col("dst").alias("redir_dst")
    )
    return (
        links.select(
            "conv_id",
            "turn_idx",
            F.col("term_id").alias("raw_term_id"),
        )
        .join(F.broadcast(redirects), "raw_term_id", "left")
        .select(
            "conv_id",
            "turn_idx",
            "raw_term_id",
            F.coalesce("redir_dst", "raw_term_id").alias("canonical_id"),
        )
    )


CANONICAL_LINKS_BODY = """
SELECT l.conv_id AS conv_id, l.turn_idx AS turn_idx,
       l.term_id AS raw_term_id,
       COALESCE(r.dst, l.term_id) AS canonical_id
FROM (
  SELECT conv_id, turn_idx, term_id FROM (
    SELECT t.conv_id, t.turn_idx, d.id AS term_id,
           ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
                              ORDER BY length(d.name) DESC, d.id) AS rnk
    FROM transcripts t JOIN mention_dict_ext d ON contains(t.text, d.name)
  ) WHERE rnk = 1
) l
LEFT JOIN redirect_final r ON r.src = l.term_id"""

#: Fixpoint redirect map as a reusable CTE pair (recursive chase +
#: live-end filter) — the SQL twin of ``redirect_map``.
REDIRECT_FINAL_CTES = (
    """redirect(src, dst) AS (
  SELECT id AS src, replaced_by AS dst FROM term_dict
  WHERE is_obsolete AND replaced_by IS NOT NULL
  UNION
  SELECT r.src, t.replaced_by AS dst
  FROM redirect r JOIN term_dict t
    ON r.dst = t.id AND t.is_obsolete AND t.replaced_by IS NOT NULL
)""",
    """redirect_final AS (
  SELECT src, dst FROM redirect r
  WHERE NOT EXISTS (SELECT 1 FROM term_dict t
                    WHERE t.id = r.dst AND t.is_obsolete
                      AND t.replaced_by IS NOT NULL)
)""",
)


def term_activity(
    spark: SparkSession, transcripts: DataFrame, mention_dict: DataFrame
) -> DataFrame:
    """Per-term corpus lifetime: ``(term_id, n_mentions, n_convs,
    n_days, first_day, last_day)`` at detection granularity — the
    aggregate complement of ``mention_timeline``'s per-day grain.
    Day strings are ``yyyy-MM-dd`` so min/max are chronological in
    both engines."""
    m = detect_mentions(spark, transcripts, mention_dict, ("ts",))
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        m.select("term_id", "conv_id", day.alias("day"))
        .groupBy("term_id")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.count_distinct("conv_id").cast("bigint").alias("n_convs"),
            F.count_distinct("day").cast("bigint").alias("n_days"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


TERM_ACTIVITY_BODY = """
SELECT d.id AS term_id,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT t.conv_id) AS BIGINT) AS n_convs,
       CAST(COUNT(DISTINCT strftime(t.ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
       MIN(strftime(t.ts, '%Y-%m-%d')) AS first_day,
       MAX(strftime(t.ts, '%Y-%m-%d')) AS last_day
FROM transcripts t JOIN mention_dict d ON contains(t.text, d.name)
GROUP BY d.id"""
