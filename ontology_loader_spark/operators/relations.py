"""U1/A1 — relation stream union and per-term relation aggregation.

Reference semantics:

- U1 (``ontology_processor.py:161,180,204``): direct relations then
  closure relations appended into one list — bag semantics in the
  report, set semantics in the store (quirk Q4, ``mongodb_loader.py:64``).
- A1 (``ontology_processor.py:17-39``): every relation whose subject is
  a known term is appended to that term's ``relations`` array (quirk
  Q12) — mutable shared dict in the reference; here a
  ``collect_list(struct)`` hash aggregation joined back onto the class
  DataFrame.

Scale notes: root/hub terms are the subject of a disproportionate share
of closure triples only on the *object* side — the groupBy key is the
subject, whose fan-out is bounded by DAG depth (tens), so a plain hash
aggregation with map-side partial aggregation suffices. The arrays are
sorted for determinism (the reference's array order is Python-set
iteration order — explicitly not a contract, SURVEY.md Q4 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_relations(direct: DataFrame, closure: DataFrame) -> DataFrame:
    """U1 — direct first, then closure (bag; report-side shape)."""
    return direct.unionByName(closure)


def distinct_relations(all_relations: DataFrame) -> DataFrame:
    """Store-side set semantics: distinct on the (s,p,o) natural key
    (``mongodb_loader.py:64,219``)."""
    return all_relations.dropDuplicates(["subject", "predicate", "object"])


def attach_relations(classes: DataFrame, all_relations: DataFrame) -> DataFrame:
    """A1/Q12 — fill each class's ``relations`` array with every
    relation whose subject is that class id.

    The reference appends *bag* occurrences but closure rows are
    pre-deduped per subject (Q4) and direct edges rarely repeat; we
    match the stored end-state by collecting the distinct (s,p,o,type)
    rows per subject, sorted for cross-engine determinism. One
    exchange on ``subject`` serves both the (s,p,o) dedup and the
    per-subject aggregation.
    """
    agg = (
        distinct_relations(all_relations.repartition("subject"))
        .groupBy("subject")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("subject", "predicate", "object", "type"))
            ).alias("relations_")
        )
        .withColumnRenamed("subject", "rel_subject")
    )
    return (
        classes.drop("relations")
        .join(agg, classes["id"] == agg["rel_subject"], "left")
        .withColumn(
            "relations",
            F.coalesce(
                F.col("relations_"),
                F.array().cast(
                    "array<struct<subject:string,predicate:string,"
                    "object:string,type:string>>"
                ),
            ),
        )
        .drop("rel_subject", "relations_")
        .select(
            "id",
            "type",
            "alternative_names",
            "definition",
            "relations",
            "is_root",
            "is_obsolete",
            "name",
        )
    )
