"""End-to-end KG construction job (SURVEY.md §7.0 architecture).

``run_ontology_load`` mirrors the reference's
``OntologyLoaderController.run_ontology_loader``
(``ontology_load_controller.py:52-92``) as one lazy DataFrame DAG:

  term_dict + edges
    → class construction (P1/P2/P3)
    → direct assertions (J1) + reflexive closure (J2/J3)
    → relation union (U1) + per-term relations array (A1/Q12)
    → Q5-ordered reconciliation vs prior state (M1→M2→M3)
    → reports (K1) + metrics (K2)

``run_transcript_kg`` is the transcript front-end feeding the same
back half: ordering (T1) → mention detection + linking (T2) →
union-find canonicalization (T3) → assertion triples.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontology_loader_spark.operators.classes import build_ontology_classes
from ontology_loader_spark.operators.closure import (
    ancestor_closure,
    direct_relations,
    relevant_entities,
)
from ontology_loader_spark.operators.reconcile import ReconcileResult, reconcile
from ontology_loader_spark.operators.relations import (
    attach_relations,
    distinct_relations,
    union_relations,
)
from ontology_loader_spark.partitioning import join_side, pin_fits
from ontology_loader_spark.schemas import DEFAULT_PREDICATES


@dataclass
class ExtractionResult:
    classes: DataFrame          # with relations arrays attached (Q12)
    relations_bag: DataFrame    # U1 bag (report semantics, Q4)
    relations_set: DataFrame    # distinct (s,p,o) (store semantics)


def extract(
    term_dict: DataFrame,
    edges: DataFrame,
    ontology: str,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> ExtractionResult:
    """Stages 3-4 of the reference plan (term extraction + closure,
    ``ontology_load_controller.py:60-67``) as one DAG."""
    relevant = relevant_entities(term_dict, ontology).localCheckpoint(eager=True)
    classes = build_ontology_classes(term_dict, edges, ontology, predicates)
    direct = direct_relations(edges, relevant, predicates)
    closure = ancestor_closure(edges, relevant, ontology, predicates)
    # the bag feeds five consumers (distinct set, A1 arrays, F2 stats,
    # M3 upsert, relation report) — materialize once
    bag = union_relations(direct, closure).localCheckpoint(eager=True)
    dset = distinct_relations(bag)
    classes_with_rel = attach_relations(classes, bag)
    return ExtractionResult(
        classes=classes_with_rel, relations_bag=bag, relations_set=dset
    )


def run_ontology_load(
    term_dict: DataFrame,
    edges: DataFrame,
    ontology: str,
    prior_class_state: DataFrame | None = None,
    prior_relation_state: DataFrame | None = None,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> tuple[ExtractionResult, ReconcileResult]:
    """Full load: extraction + Q5-ordered reconciliation.

    ``None`` prior state = empty store (the reference's first-run
    path); we synthesize empty frames with the right schemas.
    """
    spark = term_dict.sparkSession
    ext = extract(term_dict, edges, ontology, predicates)
    if prior_class_state is None:
        prior_class_state = spark.createDataFrame([], ext.classes.schema)
    if prior_relation_state is None:
        prior_relation_state = spark.createDataFrame([], ext.relations_set.schema)
    rec = reconcile(
        incoming_classes=ext.classes,
        incoming_relations=ext.relations_bag,
        class_state=prior_class_state,
        relation_state=prior_relation_state,
        # extraction builds classes via a groupBy on id — unique by
        # construction; skip the duplicate-collapse shuffle
        assume_unique_ids=True,
    )
    return ext, rec


def run_ontology_load_checkpointed(
    spark: SparkSession,
    term_dict: DataFrame,
    edges: DataFrame,
    ontology: str,
    checkpoint_root: str,
    fingerprint: str,
    output_directory: str | None = None,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
):
    """Resumable load: every stage materializes through the
    StageCheckpointer — on restart after a kill, completed stages
    short-circuit by (stage, fingerprint) tag lookup and the job
    continues from the first incomplete stage (north-rule
    resumability; SURVEY.md §4.2.5).

    ``fingerprint`` identifies the input snapshot (in production an
    Iceberg snapshot id; callers here pass a content hash or run id).
    Returns (ReconcileResult, StageCheckpointer).
    """
    from ontology_loader_spark.operators.reconcile import reconcile
    from ontology_loader_spark.sinks.lineage import StageCheckpointer
    from ontology_loader_spark.sinks.reports import Report, write_reports
    from ontology_loader_spark.schemas import ONTOLOGY_CLASS_FIELDS

    ck = StageCheckpointer(spark, checkpoint_root)

    relevant = ck.run(
        "t0_relevant", fingerprint,
        lambda: relevant_entities(term_dict, ontology),
    )
    classes_bare = ck.run(
        "t1_classes", fingerprint,
        lambda: build_ontology_classes(term_dict, edges, ontology, predicates),
    )
    direct = ck.run(
        "t2_direct", fingerprint,
        lambda: direct_relations(edges, relevant, predicates),
    )
    closure = ck.run(
        "t3_closure", fingerprint,
        lambda: ancestor_closure(edges, relevant, ontology, predicates),
    )
    bag = ck.run(
        "t4_relations_bag", fingerprint,
        lambda: union_relations(direct, closure),
    )
    classes = ck.run(
        "t5_classes_with_relations", fingerprint,
        lambda: attach_relations(classes_bare, bag),
    )

    store = ck.store
    if store.exists("ontology_class_set"):
        prior_classes = store.read(spark, "ontology_class_set")
        prior_relations = store.read(spark, "ontology_relation_set")
    else:
        prior_classes = spark.createDataFrame([], classes.schema)
        prior_relations = spark.createDataFrame([], bag.schema)

    rec = reconcile(classes, bag, prior_classes, prior_relations,
                    assume_unique_ids=True)
    store.publish(rec.class_state, "ontology_class_set")
    store.publish(rec.relation_state, "ontology_relation_set")

    if output_directory:
        write_reports(
            [
                Report("update", rec.class_updates_report, ONTOLOGY_CLASS_FIELDS),
                Report("insert", rec.class_inserts_report, ONTOLOGY_CLASS_FIELDS),
                Report("insert", rec.relation_inserts_report,
                       ["subject", "predicate", "object"]),
            ],
            output_directory,
        )
    return rec, ck


def transcript_assertions(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    term_dict: DataFrame,
) -> DataFrame:
    """T1-T3: transcripts → linked mentions → canonicalized
    co-occurrence assertions (subject term, 'co_mentioned_with',
    canonical object term)."""
    from ontology_loader_spark.operators.redirects import redirect_map
    from ontology_loader_spark.transcripts.mentions import detect_mentions, top1_links
    from ontology_loader_spark.transcripts.unionfind import (
        comention_pairs,
        connected_components_dict_bounded,
    )

    mentions = detect_mentions(spark, transcripts, mention_dict).localCheckpoint(
        eager=True
    )
    links = top1_links(mentions)
    pairs = comention_pairs(mentions)
    nodes = mentions.select(F.col("term_id").alias("node")).distinct()
    # co-mention components are dictionary-bounded: Spark dedups the
    # pair set, the driver union-finds (see unionfind.py for when the
    # iterative variant is required instead)
    components = connected_components_dict_bounded(nodes, pairs)

    # obsolete mentions redirect to their live replacement before
    # assertion emission
    redirects = redirect_map(term_dict)
    canonical_links = (
        links.join(
            F.broadcast(redirects.withColumnRenamed("src", "term_id")),
            "term_id",
            "left",
        )
        .withColumn("canon_id", F.coalesce(F.col("dst"), F.col("term_id")))
        .select("conv_id", "turn_idx", "canon_id")
    )
    return (
        canonical_links.join(
            components.withColumnRenamed("node", "canon_id"), "canon_id", "left"
        )
        .select(
            F.col("canon_id").alias("subject"),
            F.lit("co_mentioned_with").alias("predicate"),
            F.coalesce(F.col("component"), F.col("canon_id")).alias("object"),
        )
        .distinct()
    )


def mention_ancestor_triples(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    edges: DataFrame,
    term_dict: DataFrame,
    ontology: str,
) -> DataFrame:
    """The KG-materialization step that grounds the ontology closure in
    the transcripts (north star: 'transitive-closure expansion of is_a
    edges to emit (subj, pred, obj) triples' applied to linked
    mentions): each top-1 linked mention expands into one row per
    is_a/part_of ancestor of its term. Output
    (conv_id, turn_idx, term_id, ancestor) — the per-turn entailed
    entity set retrieval/aggregation layers consume.

    Scale shape: the links side is corpus-sized (one row per linked
    turn); the closure side is |terms| × depth pairs — dictionary-scale
    for most ontologies but multi-GB for NCBITaxon-class hierarchies.
    The closure side therefore goes through the one join-side rule
    (``partitioning.py``): pinned, measured, broadcast up to
    ``BROADCAST_ROWS_MAX`` rows, else a shuffle-hash equi-join on
    term_id (hinted — without the hint Spark's planner would pick a
    sort-merge join and sort the corpus side). Either way the fan-out
    (× ancestor count) happens partition-parallel on the probe side."""
    from ontology_loader_spark.operators.closure import (
        ancestor_closure,
        relevant_entities,
    )
    from ontology_loader_spark.transcripts.mentions import (
        detect_mentions,
        top1_links,
    )

    links = top1_links(detect_mentions(spark, transcripts, mention_dict))
    rel = relevant_entities(term_dict, ontology)
    closure = ancestor_closure(edges, rel, ontology)
    return mention_triples_from_closure(links, closure)


def mention_triples_from_closure(
    links: DataFrame,
    closure: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Probe-side half of :func:`mention_ancestor_triples`, factored so
    an externally-maintained closure (e.g. the streaming CDC maintainer,
    ``streaming/closure.py``) can feed the same corpus join. ``closure``
    is (subject, object[, ...]) ancestor pairs, joined by the one
    join-side rule.
    ``extra_cols`` carries additional link columns (e.g. ``ts`` for
    provenance) through the expansion."""
    closure_pairs, bc = pin_fits(
        closure.select(
            F.col("subject").alias("term_id"), F.col("object").alias("ancestor")
        ),
        "mention_triples_from_closure",
    )
    return links.join(join_side(closure_pairs, bc), "term_id").select(
        "conv_id", "turn_idx", "term_id", "ancestor", *extra_cols
    )


def ancestor_mention_rollup(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    edges: DataFrame,
    term_dict: DataFrame,
    ontology: str,
) -> DataFrame:
    """Semantic rollup over the closure-grounded triples: how often
    each ontology term — INCLUDING every ancestor it entails — is
    touched by the transcript corpus. Output
    (ancestor, n_turns, n_mentions): n_turns = distinct linked turns
    reaching the term through the closure, n_mentions = closure-triple
    count. This is the "roll counts up the is_a hierarchy" aggregate a
    KG consumer asks first ('how much of the corpus is about
    <high-level concept>?'), and the hierarchy-rollup analog of a
    time-bucket rollup.

    Scale shape: one groupBy on the ancestor key after the
    (auto-dispatched, see ``mention_ancestor_triples``) closure
    expansion — hot high-level ancestors (roots entail
    everything) are exactly the skew case partial aggregation absorbs:
    count/count-distinct partials combine map-side, so the hot key
    ships one partial row per task, not its row set."""
    triples = mention_ancestor_triples(
        spark, transcripts, mention_dict, edges, term_dict, ontology
    )
    return rollup_from_triples(triples)


def rollup_from_triples(triples: DataFrame) -> DataFrame:
    """Aggregation half of :func:`ancestor_mention_rollup`, factored so
    a caller that already owns the closure-grounded triples (e.g.
    :func:`term_similarity_ic`, which shares ONE closure between the
    rollup and the LCA) skips the second closure computation."""
    turn_key = F.concat_ws("|", F.col("conv_id"), F.col("turn_idx"))
    return triples.groupBy("ancestor").agg(
        F.countDistinct(turn_key).alias("n_turns"),
        F.count("*").alias("n_mentions"),
    )


def triple_provenance(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    edges: DataFrame,
    term_dict: DataFrame,
    ontology: str,
) -> DataFrame:
    """Per-triple provenance ledger: for every entailed (term_id ->
    ancestor) edge the corpus grounds, the evidence profile
    ``(term_id, ancestor, n_mentions, n_convs, first_day, last_day)``
    — which conversations assert this triple, how often, over what
    time span. The north star's "lineage and metrics" requirement at
    TRIPLE granularity: a downstream consumer auditing a KG fact gets
    its sources; a decay policy gets its recency.

    Scale shape: the ``ts`` column rides the Arrow detection batch and
    the per-turn argmax (no join-back across duplicate (conv_id,
    turn_idx) keys — see ``transcripts/mentions.py::_scan``), the closure
    join reuses the measured broadcast/shuffle_hash dispatch, and the
    final groupBy keys on (term_id, ancestor) with map-side-combinable
    aggregates, so hot high-level ancestors ship partials, not rows.
    """
    from ontology_loader_spark.operators.closure import (
        ancestor_closure,
        relevant_entities,
    )
    from ontology_loader_spark.transcripts.mentions import (
        detect_mentions,
        top1_links,
    )

    links = top1_links(
        detect_mentions(spark, transcripts, mention_dict, ("ts",)), ("ts",)
    )
    rel = relevant_entities(term_dict, ontology)
    closure = ancestor_closure(edges, rel, ontology)
    triples = mention_triples_from_closure(links, closure, extra_cols=("ts",))
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        triples.select("term_id", "ancestor", "conv_id", day.alias("day"))
        .groupBy("term_id", "ancestor")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.count_distinct("conv_id").cast("bigint").alias("n_convs"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


def conversation_entity_profile(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """Per-conversation KG-coverage profile: how much of the ontology a
    conversation touches, and how deep. Output, one row per
    conversation with at least one detected mention:
    (conv_id, n_mentions, n_terms, n_mention_turns, max_term_depth) —
    mention rows, distinct linked terms, distinct mentioning turns, and
    the deepest root distance among mentioned terms (NULL when no
    mentioned term is depth-grounded). The conversation-level QC
    consumers (route shallow/ungrounded conversations away from KG
    training mixes) key on exactly this.

    Scale shape: the mention side is corpus-scale (Arrow-batched
    Aho-Corasick detection, ``transcripts/mentions.py``); the depth
    table is |terms| rows, joined left on term_id by the one
    join-side rule (``partitioning.py``). The final groupBy(conv_id)
    is hash-uniform with map-side-combinable aggregates; bounded
    conversations mean no per-key skew."""
    from ontology_loader_spark.operators.graph import term_depth
    from ontology_loader_spark.transcripts.mentions import detect_mentions

    mentions = detect_mentions(spark, transcripts, mention_dict)
    dd, bc = pin_fits(
        term_depth(edges).select(F.col("id").alias("term_id"), "depth"),
        "conversation_entity_profile",
    )
    return (
        mentions.join(join_side(dd, bc), "term_id", "left")
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("int").alias("n_mentions"),
            F.count_distinct("term_id").cast("int").alias("n_terms"),
            F.count_distinct("turn_idx").cast("int").alias("n_mention_turns"),
            F.max("depth").cast("int").alias("max_term_depth"),
        )
    )


def term_similarity_ic(
    spark: SparkSession,
    transcripts: DataFrame,
    mention_dict: DataFrame,
    edges: DataFrame,
    term_dict: DataFrame,
    ontology: str,
    pairs: DataFrame,
) -> DataFrame:
    """Resnik-style corpus-grounded semantic similarity, in exact count
    space: for each query pair, the LCA (``operators/graph.py``) with
    its corpus usage from the ancestor rollup — output
    (a, b, lca, lca_depth, lca_n_turns, lca_n_mentions).

    Resnik (1995) scores a pair by the information content of the most
    informative common ancestor, IC(c) = -log p(c) with p(c) = usage
    of c-or-descendants / total. Both factors are computed here: the
    rollup's n_turns/n_mentions ARE the c-or-descendants usage (the
    closure join already rolls every mention up the hierarchy), and
    the -log is a monotone presentation-layer transform deliberately
    left out — raw counts keep the result exact-integer and
    engine-identical (the ``lm_score`` micro-nat discipline applies
    only where a log must be compared, not stored). Lower counts =
    rarer shared concept = more informative pair.

    Scale shape: both inputs are gate-verified composites
    (``ancestor_mention_rollup``, ``term_lca``); the final join is
    LCA-keyed against the dictionary-sized rollup, by the one join-side
    rule (``partitioning.py``). A pair
    whose shared concept never occurs in the corpus keeps 0 counts
    (LEFT join + COALESCE), which IS the signal 'maximally informative
    if it ever appears'."""
    from ontology_loader_spark.operators.closure import (
        ancestor_closure,
        relevant_entities,
    )
    from ontology_loader_spark.operators.graph import term_depth, term_lca
    from ontology_loader_spark.transcripts.mentions import (
        detect_mentions,
        top1_links,
    )

    # ONE closure shared by the rollup join and both LCA traversals —
    # it is the expensive iterative product here, so pin it
    closure = ancestor_closure(
        edges, relevant_entities(term_dict, ontology), ontology
    ).localCheckpoint(eager=True)
    links = top1_links(detect_mentions(spark, transcripts, mention_dict))
    rollup = rollup_from_triples(mention_triples_from_closure(links, closure))
    lca = term_lca(closure, term_depth(edges), pairs).select(
        "a", "b", "lca", "lca_depth"
    )
    ru, bc = pin_fits(
        rollup.select(F.col("ancestor").alias("lca"), "n_turns", "n_mentions"),
        "term_similarity_ic",
    )
    return lca.join(join_side(ru, bc), "lca", "left").select(
        "a", "b", "lca",
        F.col("lca_depth").cast("int").alias("lca_depth"),
        F.coalesce(F.col("n_turns"), F.lit(0)).cast("bigint").alias("lca_n_turns"),
        F.coalesce(F.col("n_mentions"), F.lit(0)).cast("bigint").alias("lca_n_mentions"),
    )
