"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry is one operator from SURVEY.md §2 implemented
Spark-first in ``ontology_loader_spark/``; each ``oracle_sql()`` entry
is an independent ANSI-SQL restatement (DuckDB) over the same parquet
views. KG inputs (term_dict / edges / transcripts) are derived
deterministically from ``part``/``lineitem`` so both engines see
identical inputs (``ontology_loader_spark/inputs/derive.py``).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ontology_loader_spark import oracle
from ontology_loader_spark.inputs import derive
from ontology_loader_spark.inputs import textsource as _textsource
from ontology_loader_spark.operators import corpus as _corpus
from ontology_loader_spark.operators import dedup as _dedup
from ontology_loader_spark.operators import events as _events
from ontology_loader_spark.operators import graph as _graph
from ontology_loader_spark.operators import multimodal as _multimodal
from ontology_loader_spark.operators import similarity as _similarity
from ontology_loader_spark.operators import sketch as _sketch
from ontology_loader_spark.operators import text as _text
from ontology_loader_spark.operators.classes import build_ontology_classes
from ontology_loader_spark.operators.closure import (
    ancestor_closure,
    direct_relations,
    relevant_entities,
)
from ontology_loader_spark.operators.curie import matches_ontology
from ontology_loader_spark.operators.reconcile import (
    apply_relation_upserts,
    classify_class_changes,
    delete_obsolete_relations,
    obsolete_ids,
)
from ontology_loader_spark.operators.redirects import redirect_map
from ontology_loader_spark.operators.relations import distinct_relations, union_relations
from ontology_loader_spark.pipeline import extract, run_ontology_load
from ontology_loader_spark.transcripts.mentions import (
    detect_mentions,
    mention_counts_salted,
    top1_links,
)
from ontology_loader_spark.transcripts.ordering import with_turn_order
from ontology_loader_spark.transcripts.unionfind import (
    comention_pairs,
    connected_components_auto,
)

ONT = derive.ONT


def _flatten_classes(classes: DataFrame) -> DataFrame:
    """Scalar projection of the class set for oracle hashing (arrays →
    joined strings)."""
    return classes.select(
        "id",
        "type",
        F.array_join("alternative_names", ",").alias("alt_names_str"),
        "definition",
        "is_root",
        "is_obsolete",
        "name",
    )


# ---------------------------------------------------------------- queries

def q_f1_curie_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    return td.filter(matches_ontology(F.col("id"), ONT)).select("id")


def q_class_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    return _flatten_classes(build_ontology_classes(td, ed, ONT))


def q_root_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    classes = build_ontology_classes(td, ed, ONT)
    return classes.filter(F.col("is_root")).select("id")


def q_direct_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    return direct_relations(ed, relevant_entities(td, ONT))


def q_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    return ancestor_closure(ed, relevant_entities(td, ONT), ONT)


def q_incremental_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance gate: split the edge set ~16:1 by an
    md5 predicate, compute the prior closure on the large part, then
    delta-update with the small part — the result must hash-match the
    FULL-closure oracle (same oracle as ancestor_closure)."""
    from ontology_loader_spark.operators.closure import incremental_closure_update

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    is_new = (
        F.conv(F.substring(F.md5(F.concat_ws("|", "subject", "predicate", "object")), 1, 2), 16, 10)
        .cast("int") % 16 == 0
    )
    old = ed.filter(~is_new)
    new = ed.filter(is_new)
    rel = relevant_entities(td, ONT).localCheckpoint(eager=True)
    prior = ancestor_closure(old, rel, ONT).localCheckpoint(eager=True)
    return incremental_closure_update(old, new, prior, rel, ONT)


def q_incremental_closure_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-maintenance gate: mark a 1/16 md5 slice of the edges
    deleted, compute the prior closure on the FULL set, then delete-
    cone invalidate + re-derive — the result must hash-match a fresh
    closure over the remaining edges (oracle recomputes from scratch;
    DELETE_RESIDUE shared with the SQL)."""
    from ontology_loader_spark.operators.closure import (
        incremental_closure_delete,
    )

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    is_deleted = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.concat_ws("|", "subject", "predicate", "object")), 1, 1
            ),
        )
        - 1
        == oracle.DELETE_RESIDUE
    )
    deleted = ed.filter(is_deleted)
    rel = relevant_entities(td, ONT).localCheckpoint(eager=True)
    prior = ancestor_closure(ed, rel, ONT).localCheckpoint(eager=True)
    return incremental_closure_delete(ed, deleted, prior, rel, ONT)


def _relations_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    rel = relevant_entities(td, ONT).localCheckpoint(eager=True)
    bag = union_relations(
        direct_relations(ed, rel), ancestor_closure(ed, rel, ONT)
    )
    return distinct_relations(bag)


def q_relation_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _relations_set(spark, sf_dir)


def q_relations_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    dset = _relations_set(spark, sf_dir)
    return dset.groupBy("subject").agg(
        F.count("*").alias("n_relations"),
        F.array_join(
            F.sort_array(
                F.collect_list(F.concat("predicate", F.lit("|"), "object"))
            ),
            ";",
        ).alias("relations_str"),
    )


def q_ancestor_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    closure = ancestor_closure(ed, relevant_entities(td, ONT), ONT)
    per_term = closure.groupBy("subject").agg(
        F.count("*").cast("int").alias("n_ancestors")
    )
    return per_term.groupBy("n_ancestors").agg(
        F.count("*").cast("int").alias("n_terms")
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank over the hierarchy edge graph — every
    iteration bit-reproducible by the unrolled SQL oracle (integral
    division only; no float accumulation anywhere)."""
    from ontology_loader_spark.operators.graph import pagerank

    return pagerank(derive.derive_edges(spark, sf_dir))


def q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.sketch import kmv_distinct_tokens

    return kmv_distinct_tokens(derive.derive_transcripts(spark, sf_dir))


def q_class_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    incoming = build_ontology_classes(td, ed, ONT)
    prior = build_ontology_classes(derive.derive_prior_term_dict(spark, sf_dir), ed, ONT)
    return classify_class_changes(incoming, prior).select("id", "change_kind")


def q_obsolete_relation_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    incoming = build_ontology_classes(td, ed, ONT)
    prior_rel = direct_relations(ed, relevant_entities(td, ONT))
    survived = delete_obsolete_relations(prior_rel, obsolete_ids(incoming))
    return survived.select("subject", "predicate", "object")


def q_relation_upsert_end_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    rel = relevant_entities(td, ONT).localCheckpoint(eager=True)
    incoming_classes = build_ontology_classes(td, ed, ONT)
    direct = direct_relations(ed, rel).localCheckpoint(eager=True)
    after_delete = delete_obsolete_relations(direct, obsolete_ids(incoming_classes))
    incoming = distinct_relations(
        union_relations(direct, ancestor_closure(ed, rel, ONT))
    )
    return apply_relation_upserts(after_delete, incoming).select(
        "subject", "predicate", "object"
    )


def q_class_insert_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/Q7 report shape: one row per inserted class, [id] + fields
    (id duplicated — mongodb_loader.py:81 + reporter.py:58)."""
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    incoming = build_ontology_classes(td, ed, ONT)
    prior = build_ontology_classes(derive.derive_prior_term_dict(spark, sf_dir), ed, ONT)
    classified = classify_class_changes(incoming, prior)
    return classified.filter(F.col("change_kind") == "insert").select(
        F.col("id"),
        F.col("id").alias("f_id"),
        F.col("type").alias("f_type"),
        F.array_join("alternative_names", ",").alias("f_alt_names"),
        F.col("definition").alias("f_definition"),
        F.col("is_root").alias("f_is_root"),
        F.col("is_obsolete").alias("f_is_obsolete"),
        F.col("name").alias("f_name"),
    )


def q_conversation_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 invariant in the gate: per-conversation text reassembled in
    stable turn order equals the oracle's ordered aggregation."""
    from ontology_loader_spark.transcripts.ordering import reassembled

    return reassembled(derive.derive_transcripts(spark, sf_dir))


def q_redirect_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = derive.derive_term_dict(spark, sf_dir)
    return redirect_map(td).select("src", "dst")


def q_dangling_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG QC gate: hierarchy edges whose object id no term defines
    (broadcast anti-join against the term dictionary)."""
    from ontology_loader_spark.operators.validate import dangling_edges

    return dangling_edges(
        derive.derive_edges(spark, sf_dir), derive.derive_term_dict(spark, sf_dir)
    )


def q_cycle_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG QC gate: nodes on a directed hierarchy cycle. The fixture
    injects reversed twins for a 1/16 md5 slice of the hierarchy edges
    (CYCLE_RESIDUE shared with the SQL oracle); the operator trims to
    the cycle core, then runs the exact non-reflexive closure on it."""
    from ontology_loader_spark.operators.validate import cycle_members
    from ontology_loader_spark.schemas import DEFAULT_PREDICATES

    ed = derive.derive_edges(spark, sf_dir)
    is_cyc = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.concat_ws("|", "subject", "object")), 1, 1),
        )
        - 1
        == oracle.CYCLE_RESIDUE
    )
    rev = ed.filter(
        F.col("predicate").isin(*DEFAULT_PREDICATES) & is_cyc
    ).select(
        F.col("object").alias("subject"),
        F.lit("rdfs:subClassOf").alias("predicate"),
        F.col("subject").alias("object"),
    )
    return cycle_members(ed.unionByName(rev))


def q_term_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hierarchy distance to a root per node — BFS from the
    root frontier, settled-at-first-reach = minimal depth."""
    from ontology_loader_spark.operators.graph import term_depth

    return term_depth(derive.derive_edges(spark, sf_dir))


def q_ntriples_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph materialization as canonical N-Triples: the full distinct
    relation state as IRI triples plus class rdfs:label literals —
    pure-Catalyst line rendering (sinks/rdf.py)."""
    from ontology_loader_spark.sinks.rdf import ntriples_export

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    classes = build_ontology_classes(td, ed, ONT)
    return ntriples_export(
        _relations_set(spark, sf_dir).select("subject", "predicate", "object"),
        classes,
    )


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 hot-key profile over events.user_id — the measured
    input to every salting / broadcast decision (operators/skew.py)."""
    from ontology_loader_spark.operators.skew import key_skew_profile

    return key_skew_profile(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "user_id", top_k=20
    )


def q_mention_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure-grounded mention triples: transcripts -> top-1 links ->
    is_a/part_of ancestor expansion (ontology-bounded closure
    broadcasts into the corpus-side probe)."""
    from ontology_loader_spark.pipeline import mention_ancestor_triples

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    td = derive.derive_term_dict(spark, sf_dir)
    return mention_ancestor_triples(spark, tr, md, ed, td, ONT)


def q_ancestor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic rollup: closure-grounded mention triples aggregated per
    ancestor (distinct linked turns + triple count) — hot root
    ancestors absorbed by map-side partial aggregation."""
    from ontology_loader_spark.pipeline import ancestor_mention_rollup

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    td = derive.derive_term_dict(spark, sf_dir)
    return ancestor_mention_rollup(spark, tr, md, ed, td, ONT)


def q_transcript_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = derive.derive_transcripts(spark, sf_dir)
    return with_turn_order(tr).select("conv_id", "turn_idx", "rn", "text")


def q_mention_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    return detect_mentions(spark, tr, md)


def q_mention_detection_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as ``mention_detection`` (shares its oracle) via
    the no-driver-collect sharded path: the dictionary stays
    distributed; each (shard, salt) task builds only its shard's
    automaton."""
    from ontology_loader_spark.transcripts.mentions import _detect_mentions_sharded

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    return _detect_mentions_sharded(tr, md)


def q_entity_linking_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    return top1_links(detect_mentions(spark, tr, md))


def q_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    return mention_counts_salted(detect_mentions(spark, tr, md))


def q_comention_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.transcripts.mentions import comention_lift

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    mentions = detect_mentions(spark, tr, md).localCheckpoint(eager=True)
    return comention_lift(mentions)


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.corpus import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_union_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    mentions = detect_mentions(spark, tr, md).localCheckpoint(eager=True)
    nodes = mentions.select(F.col("term_id").alias("node")).distinct()
    comps = connected_components_auto(nodes, comention_pairs(mentions))
    return comps.select(F.col("node").alias("term_id"), "component")


# ------------------------------------------ training-data pipeline operators

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.dedup import minhash_candidate_pairs

    return minhash_candidate_pairs(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard,
    )

    docs = _docs(spark, sf_dir)
    return ngram_jaccard(docs, minhash_candidate_pairs(docs))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.similarity import brute_force_topk

    return brute_force_topk(_embs(spark, sf_dir))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.similarity import lsh_topk

    return lsh_topk(_embs(spark, sf_dir))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.similarity import ivf_topk

    return ivf_topk(_embs(spark, sf_dir))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: trained-k-means cells + within-cell min-id duplicate
    marking at quantized cosine >= threshold."""
    from ontology_loader_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_embs(spark, sf_dir))


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.similarity import embedding_near_dups

    return embedding_near_dups(_embs(spark, sf_dir))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components (iterative,
    size-aware partitioning) over the verified LSH candidate graph."""
    from ontology_loader_spark.operators.corpus import duplicate_clusters

    return duplicate_clusters(_docs(spark, sf_dir))


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.corpus import train_test_split

    return train_test_split(_docs(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.corpus import stratified_sample

    return stratified_sample(_docs(spark, sf_dir))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.corpus import pii_scrub

    return pii_scrub(_docs(spark, sf_dir))


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship corpus-prep composition: exact dup -> near dup ->
    decontamination -> quality gate, one verdict per document."""
    from ontology_loader_spark.operators.corpus import prepare_training_corpus

    return prepare_training_corpus(_docs(spark, sf_dir))


def q_corpus_prep_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_prep with the asymmetric-containment rule enabled: the
    smaller side of a quote/wrapper containment pair is dropped as
    'contained' between the near-dup and contamination rules."""
    from ontology_loader_spark.operators.corpus import prepare_training_corpus

    return prepare_training_corpus(_docs(spark, sf_dir), include_containment=True)


def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.corpus import pack_documents

    return pack_documents(_docs(spark, sf_dir))


def q_doc_packing_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path packing: per-group running-total windows
    (hash-partitioned on a doc_id range bucket) + prefix-summed group
    base offsets. Shares the GLOBAL oracle — the hash match is the
    proof the grouped plan reproduces the global layout exactly."""
    from ontology_loader_spark.operators.corpus import pack_documents

    return pack_documents(_docs(spark, sf_dir), group_span=64)


def q_full_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end load as a gate: extraction + Q5-ordered
    reconciliation against an EMPTY store — the end-state relation set
    must equal the distinct incoming relation set (relation_set's
    oracle)."""
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    ext, rec = run_ontology_load(td, ed, ONT)
    return rec.relation_state.select("subject", "predicate", "object", "type")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import text_quality

    return text_quality(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir))


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir))


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import benchmark_contamination

    return benchmark_contamination(_docs(spark, sf_dir))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (hashed token windows, Lee et
    al. 2022 semantics): verdicts re-attach to occurrences through a
    uniform-key hash join, never a suffix sort."""
    from ontology_loader_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir))


def q_event_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-clipped per-type value stats: exact integer-cents p90 from
    the histogram CDF, winsorized sums via broadcast cutoff join."""
    from ontology_loader_spark.operators.events import winsorized_stats

    return winsorized_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_topk_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 docs per source: the rank<=k filter sits directly on the
    window so Catalyst's WindowGroupLimit turns it into map-side
    partial top-k (plan-test pinned)."""
    from ontology_loader_spark.operators.corpus import topk_per_domain

    return topk_per_domain(_docs(spark, sf_dir))


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of corpus-unique shingles (memorization /
    boilerplate dial): one df agg + one no-fan-out equi-join."""
    from ontology_loader_spark.operators.dedup import shingle_novelty

    return shingle_novelty(_docs(spark, sf_dir))


def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """√n temperature mixing weights per source, ppm-normalized with
    pure integer arithmetic over a domain-bounded window."""
    from ontology_loader_spark.operators.corpus import domain_mixture_weights

    return domain_mixture_weights(_docs(spark, sf_dir))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character Shannon entropy in integer micro-nats
    (floor-quantized ln per histogram row, then exact integer sums —
    the lm_score determinism discipline)."""
    from ontology_loader_spark.operators.text import char_entropy

    return char_entropy(_docs(spark, sf_dir))


def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 training order with a distributed global
    rank: range-partition + local rank + broadcast offsets — never a
    single-partition ORDER BY window."""
    from ontology_loader_spark.operators.corpus import shuffle_order

    return shuffle_order(_docs(spark, sf_dir))


def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative percentile (CDF ppm) per doc via histogram CDF
    — never a global-order window over corpus rows."""
    from ontology_loader_spark.operators.text import quality_percentile

    return quality_percentile(_docs(spark, sf_dir))


def q_engagement_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU + stickiness in one conditional-distinct pass over
    the ×30 exploded (user, day) relation."""
    from ontology_loader_spark.operators.events import engagement_ratios

    return engagement_ratios(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_source_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise domain vocabulary overlap from KMV sketches — the pair
    stage is sketch-sized (|sources|·k rows), never corpus-sized; the
    KMV Jaccard estimator is an exact integer ratio."""
    from ontology_loader_spark.operators.sketch import source_token_overlap

    return source_token_overlap(_docs(spark, sf_dir))


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram logprobs, micro-nat quantized per distinct
    bigram — the order-sensitive fluency signal above lm_score."""
    from ontology_loader_spark.operators.text import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir))


def q_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload → typed column → per-type rollup via codegen'd
    get_json_object (payload never leaves the JVM)."""
    from ontology_loader_spark.operators.events import props_stats

    return props_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU: sliding-window COUNT(DISTINCT) via a bounded ×7
    explode of the deduped (user, day) relation — no per-day rescan,
    no window-distinct."""
    from ontology_loader_spark.operators.events import rolling_active_users

    return rolling_active_users(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-length quantiles via the histogram-CDF
    shape (one narrow agg + a bounded distinct-value window — never a
    per-group row sort)."""
    from ontology_loader_spark.operators.text import group_quantiles

    return group_quantiles(_docs(spark, sf_dir))


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (quote/boilerplate) near-dup detection: rare-shingle
    anchored candidates (df-capped — bounded pair fan-out), exact
    containment of the smaller shingle set."""
    from ontology_loader_spark.operators.dedup import containment_dedup

    return containment_dedup(_docs(spark, sf_dir))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the token co-occurrence graph via
    degree-ordered orientation (wedge fan-out bounded by out-degree² ≤
    O(m^1.5) total — hub tokens take in-edges and cannot blow up)."""
    from ontology_loader_spark.operators.graph import triangle_counts

    return triangle_counts(_docs(spark, sf_dir))


def q_event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.events import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_event_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.events import tumbling_window_stats

    return tumbling_window_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import lm_score

    return lm_score(_docs(spark, sf_dir))


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import normalize_text

    return normalize_text(_docs(spark, sf_dir))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.events import cohort_retention

    return cohort_retention(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.text import bm25_topk

    return bm25_topk(_docs(spark, sf_dir))


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: per-stage conditional
    min-aggregates on the user key — no sequence UDF, no global
    window."""
    from ontology_loader_spark.operators.events import funnel_stages

    return funnel_stages(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join as one (user_id)-partitioned window pass; the oracle
    is DuckDB's NATIVE ASOF LEFT JOIN — two independent algorithms."""
    from ontology_loader_spark.operators.events import asof_join

    return asof_join(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join as a bucketed hash equi-join (≤2×
    fan-out) + residual filter; the oracle is DuckDB's native
    inequality join."""
    from ontology_loader_spark.operators.events import range_join_window_counts

    return range_join_window_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _textsource_fixture(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Deterministic corrupted export of the documents table (see
    inputs/textsource.py): written under the repo, keyed by sf dir."""
    from ontology_loader_spark.inputs import textsource as ts

    out = str(
        Path(__file__).resolve().parent
        / ".fixtures"
        / "textsource"
        / kind
        / Path(sf_dir).name
    )
    return ts.write_fixture(spark, sf_dir, kind, out)


def q_textsource_csv_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-analog ingestion front door: PERMISSIVE CSV scan with
    explicit schema; the clean channel must carry exactly the
    uncorrupted rows, fully typed."""
    from ontology_loader_spark.inputs import textsource as ts

    path = _textsource_fixture(spark, sf_dir, "csv")
    clean, _ = ts.read_documents_csv(spark, path, header=False)
    return clean


def q_textsource_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine channel of the same one-scan split: every
    corrupted row accounted for with its identity and reason."""
    from ontology_loader_spark.inputs import textsource as ts

    path = _textsource_fixture(spark, sf_dir, "csv")
    _, quarantined = ts.read_documents_csv(spark, path, header=False)
    return ts.quarantine_key(quarantined)


def q_textsource_jsonl_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.inputs import textsource as ts

    path = _textsource_fixture(spark, sf_dir, "jsonl")
    clean, _ = ts.read_documents_jsonl(spark, path)
    return clean


def q_textsource_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.inputs import textsource as ts

    path = _textsource_fixture(spark, sf_dir, "jsonl")
    _, quarantined = ts.read_documents_jsonl(spark, path)
    return ts.quarantine_key(quarantined)


def _obograph_tables(spark: SparkSession, sf_dir: str):
    """S1 ingest gate plumbing: render the derived ontology as one OBO
    Graph JSON document, then read it back through the distributed
    obograph reader. The oracle is the derive CTEs themselves — the
    round-trip must reproduce the tables they define bit-for-bit."""
    from ontology_loader_spark.inputs.ingest import (
        read_obograph_json,
        write_obograph_fixture,
    )

    out = (
        Path(__file__).resolve().parent
        / ".fixtures"
        / "obograph"
        / f"{Path(sf_dir).name}.json"
    )
    write_obograph_fixture(spark, sf_dir, str(out))
    return read_obograph_json(spark, str(out))


def _flatten_term_dict(td: DataFrame) -> DataFrame:
    return td.select(
        "id",
        "name",
        "definition",
        F.array_join("alternative_names", ",").alias("alt_names_str"),
        "is_obsolete",
        "replaced_by",
    )


def q_obograph_term_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    td, _ = _obograph_tables(spark, sf_dir)
    return _flatten_term_dict(td)


def q_obograph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, ed = _obograph_tables(spark, sf_dir)
    return ed


def _semsql_tables(spark: SparkSession, sf_dir: str):
    """Same round-trip gate for the reference's actual artifact format
    (semantic-sql SQLite): re-encode the derived ontology, read it back
    through the SQLite reader, expect the derive CTEs."""
    from ontology_loader_spark.inputs.ingest import (
        read_semsql_sqlite,
        write_semsql_fixture,
    )

    out = (
        Path(__file__).resolve().parent
        / ".fixtures"
        / "semsql"
        / f"{Path(sf_dir).name}.db"
    )
    write_semsql_fixture(spark, sf_dir, str(out))
    return read_semsql_sqlite(spark, str(out))


def q_semsql_term_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    td, _ = _semsql_tables(spark, sf_dir)
    return _flatten_term_dict(td)


def q_semsql_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, ed = _semsql_tables(spark, sf_dir)
    return ed


def q_streaming_mention_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming KG maintenance demo as a value-hash gate:
    the sf_dir's edge set is replayed as a deterministic 4-batch CDC
    stream (bulk add, remainder+duplicate replays, delete churn, re-add)
    through ``StreamingClosureMaintainer``; the maintainer's FINAL
    closure then grounds the mention triples. Because the replay nets to
    exactly ``derive_edges``, the oracle is the batch
    ``mention_ancestors`` SQL — every add/delete/replay must fold away."""
    from ontology_loader_spark.operators.closure import relevant_entities
    from ontology_loader_spark.pipeline import mention_triples_from_closure
    from ontology_loader_spark.streaming.closure import (
        replay_edge_cdc,
        write_edge_cdc_fixture,
    )
    from ontology_loader_spark.transcripts.mentions import (
        detect_mentions,
        top1_links,
    )

    ed = derive.derive_edges(spark, sf_dir)
    td = derive.derive_term_dict(spark, sf_dir)
    cdc = write_edge_cdc_fixture(
        spark,
        ed,
        str(
            Path(__file__).resolve().parent
            / ".fixtures"
            / "edge_cdc"
            / Path(sf_dir).name
        ),
    )
    m = replay_edge_cdc(spark, relevant_entities(td, ONT), ONT, cdc)
    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    links = top1_links(detect_mentions(spark, tr, md))
    return mention_triples_from_closure(links, m.closure)


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-axis structural quality: per-conversation role
    counts, stable-order alternation breaks, repetition + length
    features — one conv_id shuffle shared by the lag window and the
    aggregate."""
    from ontology_loader_spark.transcripts.quality import conversation_stats

    return conversation_stats(derive.derive_transcripts(spark, sf_dir))


def q_template_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation boilerplate detection: md5-grouped turn texts
    recurring in >= 2 distinct conversations (two-phase partial-distinct
    aggregate — no per-group conv sets)."""
    from ontology_loader_spark.transcripts.quality import template_turns

    return template_turns(derive.derive_transcripts(spark, sf_dir))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-corpus near dedup: a deterministic ~25% hash cut
    plays the incoming snapshot, the rest the accepted corpus; the
    corpus enters only as its stored LSH band index (never re-shingled)
    and every new doc gets a dup_of_corpus / dup_in_batch / novel
    verdict."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_docs, hist_docs = _dedup.snapshot_split(docs)
    hist_bands = _dedup.minhash_bands(hist_docs)
    return _dedup.incremental_minhash_dedup(new_docs, hist_bands)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.multimodal import (
        decode_payloads,
        with_payload,
    )

    return decode_payloads(with_payload(_docs(spark, sf_dir)))


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.multimodal import (
        sample_frames,
        with_payload,
    )

    return sample_frames(with_payload(_docs(spark, sf_dir)))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.multimodal import (
        extract_payload_features,
        with_payload,
    )

    return extract_payload_features(with_payload(_docs(spark, sf_dir)))


def q_multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ontology_loader_spark.operators.multimodal import (
        decode_payloads,
        resize_plan,
        with_payload,
    )

    return resize_plan(decode_payloads(with_payload(_docs(spark, sf_dir))))


def q_term_lca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lowest common ancestor + Wu-Palmer ppm similarity for a
    deterministic term-pair sample over the reflexive closure —
    measured broadcast dispatch on the pair and depth sides, two-phase
    argmax (no corpus window)."""
    from ontology_loader_spark.operators.graph import term_depth, term_lca

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    closure = ancestor_closure(ed, relevant_entities(td, ONT), ONT)
    return term_lca(
        closure, term_depth(ed), derive.derive_lca_pairs(spark, sf_dir)
    )


def q_turn_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition matrix with event-time latency aggregates —
    bounded per-conversation lag window + a |roles|^2-key groupBy."""
    from ontology_loader_spark.transcripts.dialogue import (
        turn_transition_stats,
    )

    return turn_transition_stats(derive.derive_transcripts(spark, sf_dir))


def q_tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool usage profile: call counts, distinct conversations,
    payload diversity, summed positions — one groupBy(tool) with
    two-phase partial-distinct aggregates."""
    from ontology_loader_spark.transcripts.dialogue import tool_usage_profile

    return tool_usage_profile(derive.derive_transcripts(spark, sf_dir))


def q_term_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor-set Jaccard similarity: structural-overlap complement
    of Wu-Palmer — exact intersection/union counts in integer ppm."""
    from ontology_loader_spark.operators.graph import term_ancestor_jaccard

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    closure = ancestor_closure(ed, relevant_entities(td, ONT), ONT)
    return term_ancestor_jaccard(closure, derive.derive_lca_pairs(spark, sf_dir))


def q_turn_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-LM context windows: each turn + its previous 2 turns in
    stable order; NULL-skipping concat at conversation starts."""
    from ontology_loader_spark.transcripts.dialogue import (
        turn_context_windows,
    )

    return turn_context_windows(derive.derive_transcripts(spark, sf_dir))


def q_term_similarity_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resnik-in-count-space semantic similarity: LCA pairs joined to
    the ancestor rollup's corpus usage — exact-integer, the -log is a
    monotone presentation transform left to consumers."""
    from ontology_loader_spark.pipeline import term_similarity_ic

    td = derive.derive_term_dict(spark, sf_dir)
    return term_similarity_ic(
        spark,
        derive.derive_transcripts(spark, sf_dir),
        derive.derive_mention_dict(spark, sf_dir),
        derive.derive_edges(spark, sf_dir),
        td,
        ONT,
        derive.derive_lca_pairs(spark, sf_dir),
    )


def q_conversation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-granularity near dedup: the gate-verified
    shingle->MinHash->banded-LSH chain over conversations reassembled
    in stable T1 order (a re-logged conversation duplicates every
    turn; turn-level template detection can't see it)."""
    from ontology_loader_spark.transcripts.ordering import reassembled

    conv_docs = reassembled(derive.derive_transcripts(spark, sf_dir)).select(
        F.col("conv_id").alias("doc_id"), F.col("conv_text").alias("text")
    )
    return _dedup.minhash_candidate_pairs(conv_docs)


def q_mention_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG activity trend: per-(term, day) mention volume with ts
    carried through the Arrow detection batch (no join-back across
    duplicate turn keys)."""
    from ontology_loader_spark.transcripts.mentions import mention_timeline

    return mention_timeline(
        spark,
        derive.derive_transcripts(spark, sf_dir),
        derive.derive_mention_dict(spark, sf_dir),
    )


def q_conv_entity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation KG coverage: mention counts, distinct linked
    terms, mentioning turns, deepest grounded term — Arrow-batched
    detection + measured-dispatch depth join + conv_id aggregate."""
    from ontology_loader_spark.pipeline import conversation_entity_profile

    return conversation_entity_profile(
        spark,
        derive.derive_transcripts(spark, sf_dir),
        derive.derive_mention_dict(spark, sf_dir),
        derive.derive_edges(spark, sf_dir),
    )


# ----------------------------------------------------------- driver hooks

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full ontology load on sf0.001 (extraction + Q5
    reconciliation against an empty store) — returns the end-state
    distinct relation set."""
    sf_dir = "/root/testdata/sf0.001"
    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    ext, rec = run_ontology_load(td, ed, ONT)
    return rec.relation_state


def q_linked_mentions_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization gate (north rule stage 3): top-1 links over the
    obsolete-inclusive dictionary resolved through the replaced_by
    redirect map (``transcripts/canonical.py``)."""
    from ontology_loader_spark.transcripts.canonical import canonical_links

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict_ext(spark, sf_dir)
    td = derive.derive_term_dict(spark, sf_dir)
    return canonical_links(spark, tr, md, td)


def q_triple_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-triple evidence ledger: (term, ancestor) with mention/
    conversation volume and first/last day (``pipeline.py``)."""
    from ontology_loader_spark.pipeline import triple_provenance

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    td = derive.derive_term_dict(spark, sf_dir)
    return triple_provenance(spark, tr, md, ed, td, ONT)


def q_term_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term corpus lifetime profile (``transcripts/canonical.py``)."""
    from ontology_loader_spark.transcripts.canonical import term_activity

    tr = derive.derive_transcripts(spark, sf_dir)
    md = derive.derive_mention_dict(spark, sf_dir)
    return term_activity(spark, tr, md)


def q_transitive_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal asserted hierarchy: edges not implied by a longer path
    (``operators/materialize.py``)."""
    from ontology_loader_spark.operators.materialize import transitive_reduction

    return transitive_reduction(derive.derive_edges(spark, sf_dir))


def q_term_path_to_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical min-parent breadcrumb per hierarchy node
    (``operators/materialize.py``; hop bound shared with the oracle)."""
    from ontology_loader_spark.operators.materialize import term_path_to_root

    return term_path_to_root(derive.derive_edges(spark, sf_dir))


def q_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate release-QC profile (``operators/materialize.py``)."""
    from ontology_loader_spark.operators.materialize import predicate_stats

    return predicate_stats(
        derive.derive_edges(spark, sf_dir), derive.derive_term_dict(spark, sf_dir)
    )


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KG-embedding negatives over the direct relations
    (``operators/materialize.py``)."""
    from ontology_loader_spark.operators.closure import relevant_entities
    from ontology_loader_spark.operators.materialize import negative_sampling

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    rel = relevant_entities(td, ONT)
    return negative_sampling(direct_relations(ed, rel), rel)


def q_kcore_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density filter over the undirected term graph (ALL predicates):
    2-core members with in-core degree (``operators/graph.py::kcore``;
    the engine raises if peeling outlives the oracle's unroll bound).
    The co-mention graph is too sparse at gate scale to exercise
    peeling — the ontology edge graph has cycles and hubs, so the core
    is non-trivial."""
    from ontology_loader_spark.operators.graph import kcore

    ed = derive.derive_edges(spark, sf_dir)
    und = (
        ed.select(F.col("subject").alias("u"), F.col("object").alias("v"))
        .unionByName(
            ed.select(F.col("object").alias("u"), F.col("subject").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return kcore(und)


def q_streaming_turn_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dialogue twin: the transcript table replayed as a
    4-file conversation-bucketed stream, per-batch transition partials
    merged into state — final state must equal the batch SQL
    (``streaming/dialogue.py``)."""
    from ontology_loader_spark.streaming.dialogue import (
        replay_transition_stream,
        write_transcript_stream_fixture,
    )

    tr = derive.derive_transcripts(spark, sf_dir)
    fix = write_transcript_stream_fixture(
        spark,
        tr,
        str(
            Path(__file__).resolve().parent
            / ".fixtures"
            / "transcript_stream"
            / Path(sf_dir).name
        ),
    )
    return replay_transition_stream(spark, fix).state


def _query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRATION order only — the driver-facing ordering is computed
    # by _driver_rotation() from the CORRECTNESS_r*.json history, so a
    # hand-edit here can no longer silently drop a gate out of driver
    # coverage. Registration order is the tie-break for gates the
    # driver has never checked (new gates first-come-first-windowed).
    return {
        "ntriples_export": q_ntriples_export,
        "key_skew_profile": q_key_skew_profile,
        "dangling_edges": q_dangling_edges,
        "cycle_members": q_cycle_members,
        "term_depth": q_term_depth,
        "textsource_csv_clean": q_textsource_csv_clean,
        "textsource_csv_quarantine": q_textsource_csv_quarantine,
        "textsource_jsonl_clean": q_textsource_jsonl_clean,
        "textsource_jsonl_quarantine": q_textsource_jsonl_quarantine,
        "obograph_term_dict": q_obograph_term_dict,
        "obograph_edges": q_obograph_edges,
        "semsql_term_dict": q_semsql_term_dict,
        "semsql_edges": q_semsql_edges,
        "streaming_mention_ancestors": q_streaming_mention_ancestors,
        "conversation_stats": q_conversation_stats,
        "template_turns": q_template_turns,
        "incremental_dedup": q_incremental_dedup,
        "mention_ancestors": q_mention_ancestors,
        "mention_detection": q_mention_detection,
        "mention_detection_sharded": q_mention_detection_sharded,
        "entity_linking_top1": q_entity_linking_top1,
        "mention_counts": q_mention_counts,
        "union_find": q_union_find,
        "comention_lift": q_comention_lift,
        "doc_chunking": q_doc_chunking,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize_plan": q_multimodal_resize_plan,
        "event_sessionization": q_event_sessionization,
        "event_window_stats": q_event_window_stats,
        "funnel_stages": q_funnel,
        "cohort_retention": q_cohort_retention,
        "bm25_topk": q_bm25_topk,
        "lm_score": q_lm_score,
        "normalize_text": q_normalize_text,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "ancestor_rollup": q_ancestor_rollup,
        "incremental_closure_delete": q_incremental_closure_delete,
        "corpus_prep_containment": q_corpus_prep_containment,
        "semantic_dedup": q_semantic_dedup,
        "token_stats": q_token_stats,
        "group_quantiles": q_group_quantiles,
        "containment_dedup": q_containment_dedup,
        "triangle_count": q_triangle_count,
        "span_dedup": q_span_dedup,
        "event_winsorized_stats": q_event_winsorized_stats,
        "rolling_active_users": q_rolling_active_users,
        "char_entropy": q_char_entropy,
        "shingle_novelty": q_shingle_novelty,
        "domain_mixture_weights": q_domain_mixture_weights,
        "topk_per_domain": q_topk_per_domain,
        "event_props_stats": q_props_stats,
        "bigram_lm_score": q_bigram_lm_score,
        "source_token_overlap": q_source_token_overlap,
        "engagement_ratios": q_engagement_ratios,
        "quality_percentile": q_quality_percentile,
        "shuffle_order": q_shuffle_order,
        "benchmark_contamination": q_benchmark_contamination,
        "dedup_clusters": q_dedup_clusters,
        "train_test_split": q_train_test_split,
        "stratified_sample": q_stratified_sample,
        "repetition_stats": q_repetition_stats,
        "pii_scrub": q_pii_scrub,
        "doc_packing": q_doc_packing,
        "doc_packing_grouped": q_doc_packing_grouped,
        "corpus_prep": q_corpus_prep,
        "full_load": q_full_load,
        "f1_curie_filter": q_f1_curie_filter,
        "class_construction": q_class_construction,
        "root_detection": q_root_detection,
        "direct_relations": q_direct_relations,
        "ancestor_closure": q_ancestor_closure,
        "relation_set": q_relation_set,
        "incremental_closure": q_incremental_closure,
        "ancestor_histogram": q_ancestor_histogram,
        "pagerank": q_pagerank,
        "kmv_distinct_tokens": q_kmv_distinct_tokens,
        "relations_agg": q_relations_agg,
        "class_cdc": q_class_cdc,
        "obsolete_relation_delete": q_obsolete_relation_delete,
        "relation_upsert_end_state": q_relation_upsert_end_state,
        "redirect_map": q_redirect_map,
        "class_insert_report": q_class_insert_report,
        "conversation_reassembly": q_conversation_reassembly,
        "transcript_ordering": q_transcript_ordering,
        "term_lca": q_term_lca,
        "turn_transitions": q_turn_transitions,
        "tool_usage": q_tool_usage,
        "conv_entity_profile": q_conv_entity_profile,
        "conversation_dedup": q_conversation_dedup,
        "mention_timeline": q_mention_timeline,
        "term_similarity_ic": q_term_similarity_ic,
        "turn_context": q_turn_context,
        "term_jaccard": q_term_jaccard,
        # --- round 6: KG-materialization + canonicalization +
        # provenance family, the co-mention k-core, and the streaming
        # dialogue twin ---
        "linked_mentions_canonical": q_linked_mentions_canonical,
        "triple_provenance": q_triple_provenance,
        "term_activity": q_term_activity,
        "transitive_reduction": q_transitive_reduction,
        "term_path_to_root": q_term_path_to_root,
        "predicate_stats": q_predicate_stats,
        "negative_sampling": q_negative_sampling,
        "kcore_terms": q_kcore_terms,
        "streaming_turn_transitions": q_streaming_turn_transitions,
    }


def driver_rotation(names: list[str]) -> list[str]:
    """Order gate names least-recently-driver-checked first.

    The external driver's correctness gate covers only the FIRST 50
    ``queries()`` entries per round, so full coverage of a >50-gate
    registry must cycle across rounds. Rather than hand-maintaining
    that ordering (one mis-ordered edit silently starves a gate), the
    rotation is GENERATED: a gate's key is its last driver-checked
    round — the max round over the committed ``CORRECTNESS_r*.json``
    files that contain a row for it — with never-checked gates first
    (round 0) and registration order breaking ties. The sort is
    stable and pure, so ``queries()`` stays deterministic for the
    whole round (the artifact files only change between rounds).
    ``scripts/check_coverage_sync.py`` re-derives this independently
    and fails on drift.
    """
    import json
    import re

    last = dict.fromkeys(names, 0)
    root = Path(__file__).resolve().parent
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for gate in rows:
            if gate in last:
                last[gate] = max(last[gate], rnd)
    reg_idx = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (last[n], reg_idx[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    fns = _query_fns()
    return {name: fns[name] for name in driver_rotation(list(fns))}


def oracle_sql() -> dict[str, str]:
    return {
        "ntriples_export": oracle.q_ntriples_export(),
        "key_skew_profile": oracle.q_key_skew_profile(),
        "dangling_edges": oracle.q_dangling_edges(),
        "cycle_members": oracle.q_cycle_members(),
        "term_depth": oracle.q_term_depth(),
        "f1_curie_filter": oracle.q_f1_curie_filter(),
        "class_construction": oracle.q_class_construction(),
        "root_detection": oracle.q_root_detection(),
        "direct_relations": oracle.q_direct_relations(),
        "ancestor_closure": oracle.q_ancestor_closure(),
        "relation_set": oracle.q_relation_set(),
        "incremental_closure": oracle.q_ancestor_closure(),
        "incremental_closure_delete": oracle.q_ancestor_closure_after_delete(),
        "mention_ancestors": oracle.q_mention_ancestors(),
        "semantic_dedup": _similarity.semantic_dedup_sql(),
        "ancestor_rollup": oracle.q_ancestor_rollup(),
        "ancestor_histogram": oracle.q_ancestor_histogram(),
        "pagerank": _graph.pagerank_sql(),
        "kmv_distinct_tokens": _sketch.kmv_distinct_tokens_sql(
            extra_ctes=(derive.TRANSCRIPTS_CTE,)
        ),
        "relations_agg": oracle.q_relations_agg(),
        "class_cdc": oracle.q_class_cdc(),
        "obsolete_relation_delete": oracle.q_obsolete_relation_delete(),
        "relation_upsert_end_state": oracle.q_relation_upsert_end_state(),
        "redirect_map": oracle.q_redirect_map(),
        "class_insert_report": oracle.q_class_insert_report(),
        "conversation_reassembly": oracle.q_conversation_reassembly(),
        "transcript_ordering": oracle.q_transcript_ordering(),
        "mention_detection": oracle.q_mention_detection(),
        "mention_detection_sharded": oracle.q_mention_detection(),
        "entity_linking_top1": oracle.q_entity_linking_top1(),
        "mention_counts": oracle.q_mention_counts(),
        "union_find": oracle.q_union_find(),
        "comention_lift": oracle.q_comention_lift(),
        "doc_chunking": _corpus.chunk_documents_sql(),
        "dedup_exact": _dedup.EXACT_DUP_SQL,
        "dedup_minhash": _dedup.minhash_candidates_sql(),
        "dedup_ngram_jaccard": _dedup.ngram_jaccard_sql(),
        "dedup_simhash": _dedup.simhash_sql(),
        "ann_cosine_topk": _similarity.brute_force_topk_sql(),
        "ann_lsh_topk": _similarity.lsh_topk_sql(),
        "ann_ivf_topk": _similarity.ivf_topk_sql(),
        "embedding_near_dups": _similarity.embedding_near_dups_sql(),
        "text_quality": _text.text_quality_sql(),
        "lang_id": _text.lang_id_sql(),
        "doc_fingerprint": _text.doc_fingerprint_sql(),
        "obograph_term_dict": oracle.q_obograph_term_dict(),
        "obograph_edges": oracle.q_obograph_edges(),
        "semsql_term_dict": oracle.q_obograph_term_dict(),
        "semsql_edges": oracle.q_obograph_edges(),
        # the CDC replay nets to exactly derive_edges, so the streaming
        # gate's oracle IS the batch mention_ancestors SQL
        "streaming_mention_ancestors": oracle.q_mention_ancestors(),
        "conversation_stats": oracle.q_conversation_stats(),
        "template_turns": oracle.q_template_turns(),
        "incremental_dedup": _dedup.incremental_minhash_dedup_sql(),
        "textsource_csv_clean": _textsource.clean_sql(),
        "textsource_csv_quarantine": _textsource.quarantine_sql("csv"),
        "textsource_jsonl_clean": _textsource.clean_sql(),
        "textsource_jsonl_quarantine": _textsource.quarantine_sql("jsonl"),
        "multimodal_decode": _multimodal.decode_metadata_sql(),
        "multimodal_frame_sample": _multimodal.sample_frames_sql(),
        "multimodal_features": _multimodal.extract_payload_features_sql(),
        "multimodal_resize_plan": _multimodal.resize_plan_sql(),
        "event_sessionization": _events.sessionize_sql(),
        "event_window_stats": _events.tumbling_window_stats_sql(),
        "funnel_stages": _events.funnel_stages_sql(),
        "cohort_retention": _events.cohort_retention_sql(),
        "bm25_topk": _text.bm25_topk_sql(),
        "lm_score": _text.lm_score_sql(),
        "normalize_text": _text.normalize_text_sql(),
        "asof_join": _events.asof_join_sql(),
        "range_join": _events.range_join_window_counts_sql(),
        "winnowing_fingerprints": _text.winnowing_fingerprints_sql(),
        "token_stats": _text.token_stats_sql(),
        "group_quantiles": _text.group_quantiles_sql(),
        "containment_dedup": _dedup.containment_dedup_sql(),
        "triangle_count": _graph.triangle_counts_sql(),
        "span_dedup": _dedup.span_dedup_sql(),
        "event_winsorized_stats": _events.winsorized_stats_sql(),
        "rolling_active_users": _events.rolling_active_users_sql(),
        "char_entropy": _text.char_entropy_sql(),
        "shingle_novelty": _dedup.shingle_novelty_sql(),
        "domain_mixture_weights": _corpus.domain_mixture_weights_sql(),
        "topk_per_domain": _corpus.topk_per_domain_sql(),
        "event_props_stats": _events.props_stats_sql(),
        "bigram_lm_score": _text.bigram_lm_score_sql(),
        "source_token_overlap": _sketch.source_token_overlap_sql(),
        "engagement_ratios": _events.engagement_ratios_sql(),
        "quality_percentile": _text.quality_percentile_sql(),
        "shuffle_order": _corpus.shuffle_order_sql(),
        "benchmark_contamination": _text.benchmark_contamination_sql(),
        "dedup_clusters": _corpus.duplicate_clusters_sql(),
        "train_test_split": _corpus.train_test_split_sql(),
        "stratified_sample": _corpus.stratified_sample_sql(),
        "repetition_stats": _text.repetition_stats_sql(),
        "pii_scrub": _corpus.pii_scrub_sql(),
        "doc_packing": _corpus.pack_documents_sql(),
        "doc_packing_grouped": _corpus.pack_documents_sql(),
        "corpus_prep": _corpus.prepare_training_corpus_sql(),
        "corpus_prep_containment": _corpus.prepare_training_corpus_sql(
            include_containment=True
        ),
        "full_load": oracle.q_relation_set(),
        "term_lca": oracle.q_term_lca(),
        "turn_transitions": oracle.q_turn_transitions(),
        "tool_usage": oracle.q_tool_usage(),
        "conv_entity_profile": oracle.q_conv_entity_profile(),
        "conversation_dedup": _dedup.conversation_dedup_sql(),
        "mention_timeline": oracle.q_mention_timeline(),
        "term_similarity_ic": oracle.q_term_similarity_ic(),
        "turn_context": oracle.q_turn_context(),
        "term_jaccard": oracle.q_term_jaccard(),
        "linked_mentions_canonical": oracle.q_linked_mentions_canonical(),
        "triple_provenance": oracle.q_triple_provenance(),
        "term_activity": oracle.q_term_activity(),
        "transitive_reduction": oracle.q_transitive_reduction(),
        "term_path_to_root": oracle.q_term_path_to_root(),
        "predicate_stats": oracle.q_predicate_stats(),
        "negative_sampling": oracle.q_negative_sampling(),
        "kcore_terms": oracle.q_kcore(),
        # the replayed stream's final state must equal the batch
        # transition profile, so the twin's oracle IS the batch SQL
        "streaming_turn_transitions": oracle.q_turn_transitions(),
    }
