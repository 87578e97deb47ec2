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

Exchange plan — each state table is keyed and exchanged once:

- classes: one ``groupBy("id")`` of the stored classes gives the doc
  count (Q11) and the min-by-JSON representative, broadcast into one
  diff join whose pin (``classified``) carries the change kind and the
  M1 flag (incoming obsolete, stored once). The new state is the
  stored rows left-joined to one broadcast of per-id flags (changed
  ids dropped, M1 applied) plus the changed docs: no shuffle.
- relations: one broadcast of the obsolete ids serves both M1
  anti-joins; the valid incoming relations are pinned once, F2's
  counts read from that pin's job through an ``Observation``; M3 is
  one ``groupBy`` on (s,p,o) over the post-delete state and the valid
  incoming rows, keeping the incoming row.

Report rows reproduce quirk Q7 (class report row = [id] + all fields,
so the id appears twice) at the sink (sinks/reports.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def _after_m1(field: str, value: Column, flag: Column, schema: StructType) -> Column:
    """M1 class side on one stored field (``mongodb_loader.py:30-41``):
    ``flag`` set → ``is_obsolete=true, relations=[]``."""
    if field == "relations":
        return F.when(flag, F.array().cast(schema[field].dataType)).otherwise(value)
    return F.when(flag, F.lit(True)).otherwise(value) if field == "is_obsolete" else value


def delete_obsolete_relations(relation_state: DataFrame, obsolete: DataFrame) -> DataFrame:
    """M1 relation side: drop stored relations whose subject OR object
    is obsolete (``mongodb_loader.py:43`` — the ``$or $in`` delete):
    two left-anti joins reading ONE broadcast exchange of the ids."""
    obs = F.broadcast(obsolete.select(F.col("id").alias("obsolete_id")))
    return (
        relation_state.join(obs, F.col("subject") == F.col("obsolete_id"), "left_anti")
        .join(obs, F.col("object") == F.col("obsolete_id"), "left_anti")
    )


def _any_field_differs(incoming_cols: list[str], stored: Callable[[str], Column]) -> Column:
    """Q9 change predicate: OR over negated null-safe equality of every
    field of the INCOMING frame — runtime introspection, the Spark twin
    of the reference's ``fields(OntologyClass)``
    (``mongodb_loader.py:84-86,223``), so a schema evolution (new
    column in the class schema) participates in the diff with no code
    edit here. ``stored(field)`` is the stored value: NULL for a field
    the state does not carry yet, so any incoming non-null value routes
    to ``update``, as a store whose documents predate the field would."""
    pred = F.lit(False)
    for field in incoming_cols:
        if field != "id":
            pred = pred | ~F.col(f"inc.{field}").eqNullSafe(stored(field))
    return pred


def _docs_by_id(state: DataFrame) -> DataFrame:
    """One ``groupBy("id")``: ``n_docs`` (Q11 — duplicate ids are a
    store anomaly) and a representative doc. The reference diffs
    against ``rows[0]`` (``mongodb_loader.py:80``); 'first' is
    ill-defined distributed, so we pick the min by JSON render."""
    cols = state.columns
    key = F.to_json(F.struct(*cols))
    return (
        state.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min_by(F.struct(*[c for c in cols if c != "id"]), key).alias("doc"),
        )
        .select("id", "n_docs", "doc.*")
    )


def _classify(incoming: DataFrame, class_state: DataFrame, m1: bool) -> DataFrame:
    """The diff join of :func:`classify_class_changes` and
    :func:`reconcile`. With ``m1`` the stored side is read post-M1
    (flag: incoming obsolete, stored exactly once), so the pre-M1
    state is grouped once for both steps."""
    inc = incoming.alias("inc")
    # class sets are dictionary-bounded (≤ millions of rows at any
    # corpus scale) — broadcast the state side so the CDC join never
    # sort-merges; post-aggregation stats would otherwise hide this
    # from the planner
    st = F.broadcast(_docs_by_id(class_state)).alias("st")
    joined = inc.join(st, F.col("inc.id") == F.col("st.id"), "left")
    flag = F.coalesce(F.col("inc.is_obsolete") & (F.col("st.n_docs") == 1), F.lit(False))
    flag = flag if m1 else F.lit(False)

    def stored(field: str) -> Column:
        if field not in class_state.columns:
            return F.lit(None)
        return _after_m1(field, F.col(f"st.{field}"), flag, class_state.schema)

    return joined.select(
        *[F.col(f"inc.{c}").alias(c) for c in incoming.columns],
        F.when(F.col("st.id").isNull(), F.lit("insert"))
        .when(_any_field_differs(incoming.columns, stored), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
        flag.alias("m1"),
    )


def classify_class_changes(incoming: DataFrame, class_state: DataFrame) -> DataFrame:
    """M2 routing: left-join incoming classes against (post-M1) state
    and tag each row ``insert`` / ``update`` / ``unchanged``.

    Returns the incoming columns plus ``change_kind`` and ``m1``
    (false: the state passed in is post-M1). On a real store this join
    is the source side of a single ``MERGE INTO`` (SURVEY.md §2.1 M2).
    """
    return _classify(incoming, class_state, m1=False)


def apply_class_upserts(class_state: DataFrame, classified: DataFrame) -> DataFrame:
    """M2 apply: state rows not in incoming stay; incoming inserts and
    updates replace/extend; unchanged rows keep the stored doc. The
    stored rows are left-joined to ONE broadcast of ``classified``'s
    per-id flags: changed ids dropped, ``m1`` rows get M1 — no M1 pass
    of its own, no shuffle.

    Schema evolution is symmetric on the MERGED column set: a column
    only the incoming frame carries is backfilled NULL on the kept rows,
    and a column only the stored state carries SURVIVES on documents
    this batch never touched, while replaced/inserted docs carry NULL
    for it (the reference's upsert replaces the document wholesale,
    ``mongodb_loader.py:223``)."""
    incoming_cols = [c for c in classified.columns if c not in ("change_kind", "m1")]
    is_changed = F.col("change_kind") != "unchanged"
    changed = classified.filter(is_changed).select(*incoming_cols)
    flags = F.broadcast(
        classified.filter(is_changed | F.col("m1")).select(
            F.col("id").alias("flag_id"),
            is_changed.alias("flag_changed"),
            F.col("m1").alias("flag_m1"),
        )
    )
    kept = (
        class_state.join(flags, F.col("id") == F.col("flag_id"), "left")
        .filter(~F.coalesce(F.col("flag_changed"), F.lit(False)))
        .select(*[
            _after_m1(c, F.col(c), F.col("flag_m1"), class_state.schema).alias(c)
            for c in class_state.columns
        ])
    )
    # incoming-only columns: NULL on kept state rows
    for c in incoming_cols:
        if c not in class_state.columns:
            kept = kept.withColumn(c, F.lit(None).cast(classified.schema[c].dataType))
    # state-only columns: kept rows retain them; changed docs are
    # whole-document replacements and carry NULL
    state_only = [c for c in class_state.columns if c not in incoming_cols]
    for c in state_only:
        changed = changed.withColumn(c, F.lit(None).cast(class_state.schema[c].dataType))
    merged_cols = incoming_cols + state_only
    return kept.select(*merged_cols).unionByName(changed.select(*merged_cols))


def _valid_relation() -> Column:
    """F2 — subject, predicate and object all non-null and non-empty
    (``mongodb_loader.py:58-60``); never NULL itself."""
    cond = F.lit(True)
    for c in ("subject", "predicate", "object"):
        cond = cond & F.col(c).isNotNull() & (F.col(c) != "")
    return cond


def apply_relation_upserts(relation_state: DataFrame, incoming: DataFrame) -> DataFrame:
    """M3 apply: upsert keyed (s,p,o) — incoming wins, state rows with
    no incoming match survive; end state distinct on the key
    (``mongodb_loader.py:64``). One ``groupBy`` on the key over state
    rows tagged 0 and incoming rows tagged 1 keeps the max (tag, row):
    the incoming row, the max one among duplicates (deterministic)."""
    key = ["subject", "predicate", "object"]
    rest = [c for c in incoming.columns if c not in key]

    def tagged(df: DataFrame, tag: int) -> DataFrame:
        return df.select(*key, F.struct(F.lit(tag).alias("tag"), *rest).alias("row"))

    return (
        tagged(relation_state, 0).unionByName(tagged(incoming, 1))
        .groupBy(*key)
        .agg(F.max("row").alias("row"))
        .select(*[F.col(c) if c in key else F.col(f"row.{c}") for c in incoming.columns])
    )


def reconcile(
    incoming_classes: DataFrame,
    incoming_relations: DataFrame,
    class_state: DataFrame,
    relation_state: DataFrame,
    assume_unique_ids: bool = False,
) -> ReconcileResult:
    """Full Q5-ordered reconciliation: M1 → M2 → M3, one keyed pass
    per table (see the module docstring for the exchange plan).

    All inputs are DataFrames over one pinned snapshot of prior state;
    outputs are the new state plus the three CDC reports
    (``mongodb_loader.py:246-250``). Two pins: ``classified`` (the
    incoming classes with change kind and M1 flag) and the valid
    incoming relations, whose pin yields F2's counts through an
    ``Observation`` — no count job of its own.

    Duplicate incoming ids collapse to one min-by-JSON representative
    first: the reference's sequential per-id upsert converges to one
    doc, and which duplicate wins there is an iteration-order accident.
    That dedup is a wide shuffle of full docs — callers whose producer
    guarantees unique ids (extraction groups by id) pass
    ``assume_unique_ids=True`` to skip it.
    """
    if not assume_unique_ids:
        incoming_classes = _docs_by_id(incoming_classes).drop("n_docs")
    # Steps 1.1 + 1.2 — M1 and M2 (mongodb_loader.py:225-235) in one
    # diff join against the post-M1 stored side; the pin carries every
    # incoming column, so the obsolete ids are read from it too
    classified = _classify(incoming_classes, class_state, m1=True).localCheckpoint(eager=True)

    def report(kind: str) -> DataFrame:
        return classified.filter(F.col("change_kind") == kind).select(
            F.col("id"), *[F.col(c).alias(f"f_{c}") for c in ONTOLOGY_CLASS_FIELDS]
        )

    # Step 2 — M3 (mongodb_loader.py:237-241): runs AFTER the obsolete
    # delete, so incoming relations referencing obsolete terms are
    # re-inserted (Q5 delete-then-reinsert end-state)
    f2 = Observation()
    valid = (
        incoming_relations.observe(f2, F.count(F.lit(1)).alias("n"),
                                   F.count(F.when(_valid_relation(), 1)).alias("n_valid"))
        .filter(_valid_relation())
        .localCheckpoint(eager=True)
    )
    after_delete = delete_obsolete_relations(relation_state, obsolete_ids(classified))

    return ReconcileResult(
        class_state=apply_class_upserts(class_state, classified),
        relation_state=apply_relation_upserts(after_delete, valid),
        class_updates_report=report("update"),
        class_inserts_report=report("insert"),
        relation_inserts_report=valid.select("subject", "predicate", "object"),
        invalid_relation_count=f2.get["n"] - f2.get["n_valid"],
    )
