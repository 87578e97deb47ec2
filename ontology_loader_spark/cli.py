"""CLI entry point — mirrors the reference's click command
(``cli.py:13-17`` / ``ontology_load_controller.py:23-50``: three entry
points converging on one plan) for the Spark engine:

    python -m ontology_loader_spark.cli \
        --term-dict <parquet> --edges <parquet> --source-ontology fix \
        --state-root /path/state --output-directory /path/reports

Configuration resolution order mirrors the reference's env-var
singleton (``mongo_db_config.py:18-54``): CLI flag > environment
variable (``OLS_STATE_ROOT``, ``OLS_REPORTS_DIR``) > default.

In production this module is the ``spark-submit --py-files`` driver
program; locally it runs on ``local[*]``.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ontology-loader-spark")
    p.add_argument("--source-ontology", required=True,
                   help="ontology prefix, e.g. 'envo' (case-insensitive)")
    src = p.add_mutually_exclusive_group()
    p.add_argument("--term-dict",
                   help="parquet path: id,name,definition,alternative_names,"
                        "is_obsolete,replaced_by (requires --edges)")
    p.add_argument("--edges",
                   help="parquet path: subject,predicate,object")
    src.add_argument("--obograph-json",
                     help="load term_dict/edges from an OBO Graph JSON "
                          "file instead of parquet tables")
    src.add_argument("--semsql-db",
                     help="load from a semantic-sql SQLite file — the "
                          "artifact the reference consumes; .gz accepted "
                          "(gunzipped to a temp file, mirroring the "
                          "reference's download_and_prepare_ontology)")
    src.add_argument("--fetch", action="store_true",
                     help="download the public semantic-sql artifact for "
                          "--source-ontology (reference "
                          "ontology_processor.py:63-92) into the local "
                          "cache and load it")
    p.add_argument("--ontology-url",
                   help="override the artifact URL for --fetch (any "
                        "urllib-readable URL, incl. file://)")
    p.add_argument("--cache-dir",
                   default=os.environ.get("OLS_CACHE_DIR"),
                   help="artifact cache root for --fetch "
                        "(default ~/.cache/ontology_loader_spark)")
    p.add_argument("--state-root",
                   default=os.environ.get("OLS_STATE_ROOT", "./ols_state"))
    p.add_argument("--output-directory",
                   default=os.environ.get("OLS_REPORTS_DIR"))
    p.add_argument("--generate-reports", action="store_true", default=True)
    p.add_argument("--no-reports", dest="generate_reports", action="store_false")
    p.add_argument("--master", default=None)
    p.add_argument("--validate-graph", action="store_true",
                   help="pre-load structural QC: abort (exit 3) if the "
                        "hierarchy contains a directed cycle — a cycle "
                        "would send the reference's per-entity recursive "
                        "traversal into its recursion limit, and here it "
                        "would make closure depth data-dependent; "
                        "dangling-edge count is reported but non-fatal "
                        "(quirk Q2 allows foreign objects)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from ontology_loader_spark.pipeline import run_ontology_load_checkpointed
    from ontology_loader_spark.session import get_spark

    if not (args.obograph_json or args.semsql_db or args.fetch) and not (
        args.term_dict and args.edges
    ):
        print("error: provide --term-dict + --edges, or --obograph-json, "
              "or --semsql-db, or --fetch", file=sys.stderr)
        return 2

    spark = get_spark("ontology-loader-spark-cli", master=args.master)
    tmp_db_path = None
    try:
        if args.obograph_json:
            from ontology_loader_spark.inputs.ingest import read_obograph_json

            src_id = args.obograph_json
            term_dict, edges = read_obograph_json(spark, args.obograph_json)
        elif args.fetch:
            from ontology_loader_spark.inputs.fetch import fetch_ontology
            from ontology_loader_spark.inputs.ingest import read_semsql_sqlite

            db_path = fetch_ontology(
                args.source_ontology,
                url=args.ontology_url,
                cache_dir=args.cache_dir,
            )
            src_id = db_path
            term_dict, edges = read_semsql_sqlite(spark, db_path)
        elif args.semsql_db:
            from ontology_loader_spark.inputs.ingest import read_semsql_sqlite

            src_id = args.semsql_db
            db_path = args.semsql_db
            if db_path.endswith(".gz"):
                # mirror the reference's gunzip step
                # (ontology_processor.py:84-90)
                import gzip
                import shutil
                import tempfile

                tmp = tempfile.NamedTemporaryFile(
                    suffix=".db", delete=False
                )
                with gzip.open(db_path, "rb") as fin:
                    shutil.copyfileobj(fin, tmp)
                tmp.close()
                db_path = tmp_db_path = tmp.name
            term_dict, edges = read_semsql_sqlite(spark, db_path)
        else:
            src_id = f"{args.term_dict}|{args.edges}"
            term_dict = spark.read.parquet(args.term_dict)
            edges = spark.read.parquet(args.edges)
        if args.validate_graph:
            from ontology_loader_spark.operators.validate import (
                cycle_members,
                dangling_edges,
            )

            n_cycle = cycle_members(edges).count()
            n_dangling = dangling_edges(edges, term_dict).count()
            print(
                f"validate: cycle_members={n_cycle} "
                f"dangling_edges={n_dangling}",
                file=sys.stderr,
            )
            if n_cycle:
                print(
                    "error: hierarchy contains directed cycles — refusing "
                    "to load (inspect with operators.validate.cycle_members)",
                    file=sys.stderr,
                )
                return 3
        # input fingerprint = content-derived snapshot id (in production:
        # the Iceberg snapshot id of the input tables)
        fp = hashlib.sha256(
            f"{src_id}|{args.source_ontology}".encode()
        ).hexdigest()[:16]
        rec, ck = run_ontology_load_checkpointed(
            spark,
            term_dict,
            edges,
            args.source_ontology,
            checkpoint_root=args.state_root,
            fingerprint=fp,
            output_directory=(args.output_directory
                              if args.generate_reports else None),
        )
        n_classes = rec.class_state.count()
        n_relations = rec.relation_state.count()
        n_updates = rec.class_updates_report.count()
        n_inserts = rec.class_inserts_report.count()
        print(
            f"classes={n_classes} relations={n_relations} "
            f"class_inserts={n_inserts} class_updates={n_updates} "
            f"invalid_relations={rec.invalid_relation_count} "
            f"state_root={args.state_root}"
        )
        return 0
    finally:
        spark.stop()
        if tmp_db_path is not None:
            # the gunzipped ontology DB is full-size — never leak it
            try:
                os.unlink(tmp_db_path)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
