"""M1/M2/M3 — reconciliation of incoming classes/relations against the
prior store state, preserving the reference's ordering quirk Q5
(obsolete handling → class upsert → relation upsert,
``mongodb_loader.py:225-241``).

Reference semantics:

- M1 obsolete handling (``mongodb_loader.py:19-44``): for each incoming
  id flagged obsolete that exists exactly once in the store, set
  ``is_obsolete=true`` and ``relations=[]`` (duplicate ids → warn,
  skip: quirk Q11); then bulk-delete stored relations whose subject OR
  object is any obsolete id.
- M2 class CDC upsert (``mongodb_loader.py:69-103``): per id, compare
  every introspected field (``:223``) against the stored doc with
  plain inequality (quirk Q9: ``None != ""`` counts); changed → update
  + report row; missing → insert (booleans coerced, Q10) + report row;
  identical → nothing (``:103``).
- M3 relation upsert (``mongodb_loader.py:47-66``): validity filter F2
  (falsy s/p/o dropped with a warning count), then upsert keyed on
  (s,p,o); report row per incoming valid relation (bag, Q4).

Spark-first: each Mongo per-document round-trip (the reference's N+1
bottleneck, SURVEY.md §4.1) becomes one distributed join; each
collection mutation becomes a MERGE-shaped dataframe rewrite. On an
Iceberg catalog these three steps are three sequential ``MERGE INTO``
statements against one pinned snapshot; here the sink layer
(sinks/merge.py) applies the same algebra to parquet-backed state.

Report rows reproduce quirk Q7 (class report row = [id] + all fields,
so the id appears twice) at the sink (sinks/reports.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.schemas import ONTOLOGY_CLASS_FIELDS


@dataclass
class ReconcileResult:
    """End-state tables + CDC report DataFrames for one load run."""

    class_state: DataFrame
    relation_state: DataFrame
    class_updates_report: DataFrame   # classes that existed and changed (Q9)
    class_inserts_report: DataFrame   # classes that did not exist
    relation_inserts_report: DataFrame  # every valid incoming relation (bag, Q4)
    invalid_relation_count: int        # F2 side-output


def obsolete_ids(incoming_classes: DataFrame) -> DataFrame:
    """Step 1.1 input — ids the incoming batch flags obsolete
    (``mongodb_loader.py:226``)."""
    return incoming_classes.filter(F.col("is_obsolete")).select("id")


def apply_obsolete_to_classes(class_state: DataFrame, obsolete: DataFrame) -> DataFrame:
    """M1 class side: stored docs matching a unique obsolete id get
    ``is_obsolete=true, relations=[]`` (``mongodb_loader.py:30-41``).

    Quirk Q11: ids stored more than once are skipped (warning metric) —
    enforced with a per-id count. The obsolete-id set is tiny relative
    to state → broadcast.
    """
    dup_ids = (
        class_state.groupBy("id").count().filter(F.col("count") > 1).select("id")
    )
    unique_obsolete = obsolete.join(dup_ids, "id", "left_anti")
    flagged = F.broadcast(unique_obsolete.withColumn("obs_flag", F.lit(True)))
    return (
        class_state.join(flagged, "id", "left")
        .withColumn(
            "is_obsolete",
            F.when(F.col("obs_flag"), F.lit(True)).otherwise(F.col("is_obsolete")),
        )
        .withColumn(
            "relations",
            F.when(
                F.col("obs_flag"),
                F.array().cast(
                    "array<struct<subject:string,predicate:string,"
                    "object:string,type:string>>"
                ),
            ).otherwise(F.col("relations")),
        )
        .drop("obs_flag")
    )


def delete_obsolete_relations(relation_state: DataFrame, obsolete: DataFrame) -> DataFrame:
    """M1 relation side: drop stored relations whose subject OR object
    is obsolete (``mongodb_loader.py:43`` — the ``$or $in`` delete),
    expressed as two broadcast left-anti joins."""
    obs = F.broadcast(obsolete)
    return (
        relation_state.join(obs.withColumnRenamed("id", "subject"), "subject", "left_anti")
        .join(obs.withColumnRenamed("id", "object"), "object", "left_anti")
        .select(*relation_state.columns)
    )


def _any_field_differs(
    incoming_cols: list[str], state_cols: list[str]
) -> F.Column:
    """Q9 change predicate: OR over negated null-safe equality of every
    field of the INCOMING frame — runtime introspection, the Spark twin
    of the reference's ``fields(OntologyClass)``
    (``mongodb_loader.py:84-86,223``), so a schema evolution (new
    column in the class schema) participates in the diff with no code
    edit here. A field the stored state does not carry yet compares
    against NULL — any incoming non-null value routes the row to
    ``update``, exactly what a store whose documents predate the field
    would report."""
    pred = F.lit(False)
    for field in incoming_cols:
        if field == "id":
            continue
        st_val = (
            F.col(f"st.{field}") if field in state_cols
            else F.lit(None)
        )
        pred = pred | ~F.col(f"inc.{field}").eqNullSafe(st_val)
    return pred


def _one_doc_per_id(state: DataFrame) -> DataFrame:
    """The reference diffs against ``rows[0]`` of the store lookup
    (``mongodb_loader.py:80``); 'first' is ill-defined distributed, so
    we pick a deterministic representative per id (min by JSON render)
    — duplicate ids are a store anomaly (Q11), not a normal state."""
    cols = state.columns
    key = F.to_json(F.struct(*cols))
    return (
        state.groupBy("id")
        .agg(F.min_by(F.struct(*[c for c in cols if c != "id"]), key).alias("doc"))
        .select("id", "doc.*")
    )


def classify_class_changes(incoming: DataFrame, class_state: DataFrame) -> DataFrame:
    """M2 routing: left-join incoming classes against (post-M1) state
    and tag each row ``insert`` / ``update`` / ``unchanged``.

    Returns the incoming columns plus ``change_kind``. The state side is
    keyed on id; on a real store this join is the source side of a
    single ``MERGE INTO`` (SURVEY.md §2.1 M2).
    """
    inc = incoming.alias("inc")
    # class sets are dictionary-bounded (≤ millions of rows at any
    # corpus scale) — broadcast the state side so the CDC join never
    # sort-merges; post-aggregation stats would otherwise hide this
    # from the planner
    st = F.broadcast(_one_doc_per_id(class_state)).alias("st")
    joined = inc.join(st, F.col("inc.id") == F.col("st.id"), "left")
    return joined.select(
        *[F.col(f"inc.{c}").alias(c) for c in incoming.columns],
        F.when(F.col("st.id").isNull(), F.lit("insert"))
        .when(
            _any_field_differs(incoming.columns, class_state.columns),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
    )


def apply_class_upserts(class_state: DataFrame, classified: DataFrame) -> DataFrame:
    """M2 apply: state rows not in incoming stay; incoming inserts and
    updates replace/extend. (Unchanged rows keep the stored doc —
    identical by definition.) Schema evolution is symmetric on the
    MERGED column set: a column only the incoming frame carries is
    backfilled NULL on the kept rows (adding a field), and a column
    only the stored state carries SURVIVES on documents this batch
    never touched — kept rows keep their stored value, while
    replaced/inserted docs carry NULL for it (the reference's upsert
    replaces the document wholesale, ``mongodb_loader.py:223``)."""
    incoming_cols = [c for c in classified.columns if c != "change_kind"]
    changed = classified.filter(F.col("change_kind") != "unchanged").select(*incoming_cols)
    # incoming-only columns: NULL on kept state rows
    for c in incoming_cols:
        if c not in class_state.columns:
            class_state = class_state.withColumn(
                c, F.lit(None).cast(classified.schema[c].dataType)
            )
    # state-only columns: kept rows retain them; changed docs are
    # whole-document replacements and carry NULL
    state_only = [c for c in class_state.columns if c not in incoming_cols]
    for c in state_only:
        changed = changed.withColumn(
            c, F.lit(None).cast(class_state.schema[c].dataType)
        )
    merged_cols = incoming_cols + state_only
    kept = class_state.join(changed.select("id"), "id", "left_anti").select(*merged_cols)
    return kept.unionByName(changed.select(*merged_cols))


def valid_relations(incoming_relations: DataFrame) -> DataFrame:
    """F2 — drop relations with null/empty subject, predicate, or
    object (``mongodb_loader.py:58-60``)."""
    cond = F.lit(True)
    for c in ("subject", "predicate", "object"):
        cond = cond & F.col(c).isNotNull() & (F.col(c) != "")
    return incoming_relations.filter(cond)


def apply_relation_upserts(relation_state: DataFrame, incoming: DataFrame) -> DataFrame:
    """M3 apply: upsert keyed (s,p,o) — incoming wins, state rows with
    no incoming match survive; end state distinct on the key
    (``mongodb_loader.py:64``)."""
    inc = incoming.dropDuplicates(["subject", "predicate", "object"])
    # both sides are relation-set-scale: shuffle-hash (sorts neither
    # side; the build side is one shuffle partition of the incoming
    # key set) beats a sort-merge here, and AQE still downgrades to
    # broadcast when a side turns out tiny (e.g. first-load empty
    # prior)
    kept = relation_state.join(
        inc.select("subject", "predicate", "object").hint("shuffle_hash"),
        ["subject", "predicate", "object"],
        "left_anti",
    )
    return kept.select(*inc.columns).unionByName(inc)


def reconcile(
    incoming_classes: DataFrame,
    incoming_relations: DataFrame,
    class_state: DataFrame,
    relation_state: DataFrame,
    assume_unique_ids: bool = False,
) -> ReconcileResult:
    """Full Q5-ordered reconciliation: M1 → M2 → M3.

    All inputs are DataFrames over one pinned snapshot of prior state;
    outputs are the new state plus the three CDC reports
    (``mongodb_loader.py:246-250``).

    Duplicate ids in ``incoming_classes`` are collapsed to one
    deterministic representative per id first: the reference's
    sequential per-document upsert (``filter_fields=['id']``) converges
    to a single stored doc per id, and which duplicate "wins" is an
    iteration-order accident there — distributed execution has no such
    order, so we pin the min-by-JSON representative instead. The
    dedup is one wide shuffle of full class docs — callers whose
    producer guarantees unique ids (the extraction path builds classes
    with a groupBy on id) pass ``assume_unique_ids=True`` to skip it.
    """
    if not assume_unique_ids:
        incoming_classes = _one_doc_per_id(incoming_classes)
    # pinned once: the obsolete ids and the M2 diff both read this pin
    incoming_classes = incoming_classes.localCheckpoint(eager=True)
    obs = obsolete_ids(incoming_classes)

    # Step 1.1 — M1 (mongodb_loader.py:225-227)
    state_after_obsolete = apply_obsolete_to_classes(class_state, obs)
    relations_after_delete = delete_obsolete_relations(relation_state, obs)

    # Step 1.2 — M2 (mongodb_loader.py:229-235); diffs are computed
    # against the post-M1 state, matching the live-collection reads.
    classified = classify_class_changes(incoming_classes, state_after_obsolete)
    classified = classified.localCheckpoint(eager=True)
    new_class_state = apply_class_upserts(state_after_obsolete, classified)

    updates_report = classified.filter(F.col("change_kind") == "update").select(
        F.col("id"), *[F.col(c).alias(f"f_{c}") for c in ONTOLOGY_CLASS_FIELDS]
    )
    inserts_report = classified.filter(F.col("change_kind") == "insert").select(
        F.col("id"), *[F.col(c).alias(f"f_{c}") for c in ONTOLOGY_CLASS_FIELDS]
    )

    # Step 2 — M3 (mongodb_loader.py:237-241): runs AFTER the obsolete
    # delete, so incoming relations referencing obsolete terms are
    # re-inserted (Q5 delete-then-reinsert end-state).
    valid = valid_relations(incoming_relations)
    # F2 side-output in ONE pass (separate counts would re-derive the
    # whole closure bag twice)
    valid_cond = F.lit(True)
    for c in ("subject", "predicate", "object"):
        valid_cond = valid_cond & F.col(c).isNotNull() & (F.col(c) != "")
    stats = incoming_relations.agg(
        F.count("*").alias("n"),
        F.sum(valid_cond.cast("int")).alias("n_valid"),
    ).first()
    invalid_count = int((stats["n"] or 0) - (stats["n_valid"] or 0))
    new_relation_state = apply_relation_upserts(relations_after_delete, valid)
    relation_report = valid.select("subject", "predicate", "object")

    return ReconcileResult(
        class_state=new_class_state,
        relation_state=new_relation_state,
        class_updates_report=updates_report,
        class_inserts_report=inserts_report,
        relation_inserts_report=relation_report,
        invalid_relation_count=invalid_count,
    )
