"""P1/P2/P3 — canonical OntologyClass construction.

Reference semantics:

- P1 class construction ``_create_ontology_class``
  (``ontology_processor.py:94-119``): per entity, label/definition/
  aliases point-lookups with null→default coercion (aliases→[],
  definition/name→"", booleans→False; quirk Q10).
- P2 root detection (``ontology_processor.py:61,108``):
  ``roots()`` materialized once, per-entity membership. Spark-first:
  a **left-anti join** against the subjects of hierarchy
  edges — a term is a root iff it has no outgoing edge with a
  hierarchy predicate.
- P3 union of non-obsolete + obsolete scans
  (``ontology_processor.py:128-150``): collapses to a single filtered
  scan because ``is_obsolete`` is already a column (SURVEY.md §2.1 S3/S4).

Scale notes: the term dictionary is the *small* side everywhere (20k–5M
rows vs 10^12 transcript turns), so root detection broadcasts the
hierarchy-edge subjects; the class projection is a single
whole-stage-codegen'd select with zero extra joins — the reference's
three point-lookups-per-entity (``ontology_processor.py:105,106,110``)
cost nothing here because the dictionary row already carries them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.operators.curie import matches_ontology
from ontology_loader_spark.schemas import DEFAULT_PREDICATES, ONTOLOGY_CLASS_TYPE


def root_ids(edges: DataFrame, term_dict: DataFrame,
             predicates: tuple[str, ...] = DEFAULT_PREDICATES) -> DataFrame:
    """P2 — ids of terms with no outgoing hierarchy edge.

    Reference: ``set(self.adapter.roots())`` (``ontology_processor.py:61``).
    Implemented as a left-anti join: term ids minus the broadcast edge
    subjects (restricted to hierarchy predicates). A left-anti join
    never multiplies rows, so the subjects need no distinct shuffle.
    """
    subjects = edges.filter(F.col("predicate").isin(*predicates)).select("subject")
    return (
        term_dict.select("id")
        .join(F.broadcast(subjects), term_dict["id"] == subjects["subject"], "left_anti")
    )


def build_ontology_classes(
    term_dict: DataFrame,
    edges: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """P1+P2+P3 — the full class set for ``ontology``.

    One filtered scan (F1 on ``id``) + one broadcast left join for
    ``is_root`` + one projection with Q10 null→default coercion.
    ``relations`` starts empty (``ontology_processor.py:107``) and is
    filled later by the A1 aggregation (relations.py).
    """
    roots = root_ids(edges, term_dict, predicates).withColumn("is_root_", F.lit(True))

    relations_type = (
        "array<struct<subject:string,predicate:string,object:string,type:string>>"
    )
    empty_relations = F.array().cast(relations_type)

    return (
        term_dict.filter(matches_ontology(F.col("id"), ontology))
        .join(F.broadcast(roots.withColumnRenamed("id", "root_id")),
              F.col("id") == F.col("root_id"), "left")
        .select(
            F.col("id"),
            F.lit(ONTOLOGY_CLASS_TYPE).alias("type"),
            F.coalesce(F.col("alternative_names"), F.array().cast("array<string>"))
            .alias("alternative_names"),
            F.coalesce(F.col("definition"), F.lit("")).alias("definition"),
            empty_relations.alias("relations"),
            F.coalesce(F.col("is_root_"), F.lit(False)).alias("is_root"),
            F.coalesce(F.col("is_obsolete"), F.lit(False)).alias("is_obsolete"),
            F.coalesce(F.col("name"), F.lit("")).alias("name"),
        )
    )
