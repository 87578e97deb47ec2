"""The scaling-gate job: end-to-end transcripts → distinct merged
(s,p,o) triples, run at one parallelism level.

Usage: python scripts/scaling_job.py <cpus> [sf_dir] [replication] [corpus_dir]

This is the north-rule throughput job: read stored transcripts, detect
mentions against the full hub dictionary (Arrow-batched Aho-Corasick
UDF), score + top-1 link, canonicalize via redirect map + union-find,
emit co-mention assertion triples, expand the ontology is_a/part_of
closure (one task for a dictionary-bounded hierarchy, path doubling
above the measured ceiling: either keeps the serial driver fraction
negligible), merge everything distinct. Prints one
JSON line with wall time and throughput.

Corpus handling: the replicated fat-text corpus (R× the sf transcripts
derivation, distinct conv ids, ~320-char turns) is materialized to
parquet ONCE as untimed preparation and shared byte-identical by every
parallelism level — a real 10^12-turn job reads stored transcripts;
generator cost does not belong in the measured job.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repl = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from ontology_loader_spark.inputs import derive
    from ontology_loader_spark.operators.closure import (
        ancestor_closure,
        direct_relations,
        relevant_entities,
    )
    from ontology_loader_spark.operators.redirects import redirect_map
    from ontology_loader_spark.session import get_spark
    from ontology_loader_spark.transcripts.mentions import detect_mentions, top1_links
    from ontology_loader_spark.transcripts.unionfind import (
        connected_components_dict_bounded,
        comention_pairs,
        connected_components,
    )

    spark = get_spark(
        "scaling-job",
        master=f"local[{cpus}]",
        extra_confs={
            # identical shuffle config at both levels so only the core
            # count varies; AQE coalesces surplus partitions
            "spark.sql.shuffle.partitions": "128",
            "spark.ui.enabled": "false",
            # local mode = one JVM for driver+executors: size the heap
            # for the checkpointed mention/link blocks (block-manager
            # eviction at 8g made 8 cores SLOWER than 2 at repl>=16)
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def stage(msg, t0):
        print(f"  {msg}: {time.time() - t0:.1f}s", file=sys.stderr, flush=True)

    # corpus lives on tmpfs: on a real cluster each executor reads its
    # own slice of distributed storage (aggregate scan bandwidth scales
    # with executors); a single local disk would impose an artificial
    # shared cap that no cluster has
    corpus_dir = (
        sys.argv[4]
        if len(sys.argv) > 4
        else f"/dev/shm/scaling_corpus_{Path(sf_dir).name}_r{repl}"
    )

    # --- untimed prep: materialize the replicated fat-text corpus once
    # (identical input bytes for every parallelism level). Scale lesson
    # encoded here: scatter the SMALL base first, then explode + enrich
    # inside the partition — fat text rows are never shuffled.
    if not (Path(corpus_dir) / "_SUCCESS").exists():
        fatness = 8  # non-matching filler blocks per turn (~290 chars)
        base = derive.derive_transcripts(spark, sf_dir)
        filler = F.concat_ws(
            " ",
            *[
                F.md5(F.concat("conv_id", F.lit(f"#{i}#"),
                               F.col("turn_idx").cast("string")))
                for i in range(fatness)
            ],
        )
        (
            base.repartition(64)
            .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(repl - 1))))
            .withColumn("conv_id", F.concat("conv_id", F.lit("#"), F.col("rep")))
            .drop("rep")
            .withColumn("text", F.concat_ws(" ", "text", filler))
            .write.mode("overwrite")
            .parquet(corpus_dir)
        )
        print(f"  corpus materialized at {corpus_dir}", file=sys.stderr, flush=True)

    t_start = time.time()
    tr = spark.read.parquet(corpus_dir)
    n_turns = tr.count()
    t0 = time.time()

    td = derive.derive_term_dict(spark, sf_dir)
    ed = derive.derive_edges(spark, sf_dir)
    # full hub dictionary: every 5th term (10x the oracle mention dict)
    mention_dict = td.filter(
        (F.col("k") % 5 == 1) & F.col("id").startswith("FIX:")
    ).select("id", "name")

    # --- T4 runs CONCURRENTLY with T2: the ontology-side phases
    # (closure, direct assertions, redirect map) are independent of the
    # transcript volume — their driver-loop latency hides behind the
    # CPU-bound detection stage (separate job-submission thread; the
    # fair scheduler interleaves tasks).
    import threading

    ontology_out: dict = {}

    def ontology_side():
        rel = relevant_entities(td, derive.ONT).localCheckpoint(eager=True)
        ontology_out["closure"] = ancestor_closure(ed, rel, derive.ONT).localCheckpoint(
            eager=True
        )
        ontology_out["direct"] = direct_relations(ed, rel).localCheckpoint(eager=True)
        ontology_out["redirects"] = redirect_map(td)

    onto_thread = threading.Thread(target=ontology_side, daemon=True)
    onto_thread.start()

    # --- T2: detection + linking (mentions checkpointed once — it
    # feeds links, co-mention pairs, and the node set)
    mentions = detect_mentions(spark, tr, mention_dict).localCheckpoint(eager=True)
    stage("detect", t0)
    t0 = time.time()
    links = top1_links(mentions).localCheckpoint(eager=True)
    stage("link", t0)

    # --- T3: canonicalization (redirects + union-find over co-mentions)
    t0 = time.time()
    onto_thread.join()
    redirects = ontology_out["redirects"]
    closure = ontology_out["closure"]
    direct = ontology_out["direct"]
    canon = (
        links.join(
            F.broadcast(redirects.withColumnRenamed("src", "term_id")),
            "term_id",
            "left",
        )
        .withColumn("canon_id", F.coalesce("dst", "term_id"))
        .select("conv_id", "turn_idx", "canon_id")
    ).localCheckpoint(eager=True)  # two consumers in the merge stage
    stage("redirect-join", t0)
    t0 = time.time()
    pairs = comention_pairs(mentions)
    nodes = mentions.select(F.col("term_id").alias("node")).distinct()
    # dict-bounded graph -> Spark dedups, driver union-finds (no
    # O(diameter) driver-loop latency)
    comps = connected_components_dict_bounded(nodes, pairs)
    stage("unionfind", t0)

    # --- T5: assertion emission + distinct merge
    t0 = time.time()
    comention_triples = (
        canon.join(comps.withColumnRenamed("node", "canon_id"), "canon_id", "left")
        .select(
            F.col("canon_id").alias("subject"),
            F.lit("co_mentioned_with").alias("predicate"),
            F.coalesce("component", "canon_id").alias("object"),
            F.lit("nmdc:OntologyRelation").alias("type"),
        )
    )
    mention_triples = canon.select(
        F.concat(F.lit("conv:"), "conv_id").alias("subject"),
        F.lit("mentions").alias("predicate"),
        F.col("canon_id").alias("object"),
        F.lit("nmdc:OntologyRelation").alias("type"),
    )
    all_triples = (
        direct.unionByName(closure)
        .unionByName(comention_triples)
        .unionByName(mention_triples)
        .dropDuplicates(["subject", "predicate", "object"])
    )
    n_triples = all_triples.count()
    stage("merge", t0)

    wall = time.time() - t_start
    print(
        json.dumps(
            {
                "cpus": cpus,
                "sf": sf_dir,
                "replication": repl,
                "turns": n_turns,
                "triples": n_triples,
                "wall_sec": round(wall, 2),
                "turns_per_sec": round(n_turns / wall, 1),
                "triples_per_sec": round(n_triples / wall, 1),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
