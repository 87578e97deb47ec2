"""Correctness checks for each workload's output, run outside every
timed region against computations the repository already has and that
share no code with the Spark operators:

- ``ontology_release``: ``testing/pyreference.py`` (row-at-a-time
  restatement of the reference's extraction and ``upsert_ontology_data``)
  for the store and reports, and its closure for the live closure;
- ``transcript_kg``: the DuckDB oracle SQL in ``oracle.py``.

Each check takes plain Python rows (what the workload collected) and
returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb

from ontology_loader_spark import oracle
from ontology_loader_spark.inputs import derive
from ontology_loader_spark.schemas import ONTOLOGY_RELATION_TYPE
from ontology_loader_spark.testing.pyreference import (
    reference_extraction,
    reference_reconcile,
)

ONT = derive.ONT


def _diff(name: str, got, want, limit: int = 3) -> list[str]:
    got, want = set(got), set(want)
    if got == want:
        return []
    extra, missing = sorted(got - want)[:limit], sorted(want - got)[:limit]
    return [f"{name}: {len(got - want)} unexpected (e.g. {extra}), "
            f"{len(want - got)} missing (e.g. {missing})"]


def _load(terms, edges):
    """Reference classes (relations attached, as A1 does) and the
    incoming relation bag for one release."""
    classes, direct, closure = reference_extraction(terms, edges, ONT)
    bag = ([(s, p, o, ONTOLOGY_RELATION_TYPE) for s, p, o in direct]
           + [(s, p, o, ONTOLOGY_RELATION_TYPE) for s, p, o in closure])
    by_subject = defaultdict(set)
    for rel in bag:
        by_subject[rel[0]].add(rel)
    incoming = [dict(c, relations=tuple(sorted(by_subject.get(cid, ()))))
                for cid, c in classes.items()]
    return incoming, bag


def canon_class(c: dict) -> tuple:
    return (c["id"], c["type"], tuple(c["alternative_names"]), c["definition"],
            tuple(tuple(r) for r in c["relations"]), bool(c["is_root"]),
            bool(c["is_obsolete"]), c["name"])


def expected_release(terms_n, edges_n, terms_n1, edges_n1) -> dict:
    """Store end state and report contents after loading release N into
    an empty store and then release N+1 over it."""
    inc_n, bag_n = _load(terms_n, edges_n)
    st_classes, st_rels, *_ = reference_reconcile(inc_n, bag_n, [], [])
    prior_rels = [(*k, ONTOLOGY_RELATION_TYPE) for k in st_rels]
    inc_n1, bag_n1 = _load(terms_n1, edges_n1)
    classes, rels, updates, inserts, rel_report, _ = reference_reconcile(
        inc_n1, bag_n1, st_classes, prior_rels)
    was_obsolete = {c["id"] for c in st_classes if c["is_obsolete"]}
    return {
        "classes": {canon_class(c) for c in classes},
        "relations": set(rels),
        "updates": set(updates),
        "inserts": set(inserts),
        "relation_report_rows": len(rel_report),
        "newly_obsolete": {c["id"] for c in classes
                           if c["is_obsolete"] and c["id"] not in was_obsolete},
    }


def check_release(got: dict, want: dict, delta: dict) -> list[str]:
    """``got``: the same keys as :func:`expected_release`, read back from
    the store and the report files. ``delta``: the generator's counts."""
    errs = _diff("class state", got["classes"], want["classes"])
    errs += _diff("live closure (subject, object)", got["closure"], want["closure"])
    errs += _diff("live closure edge state", got["edges"], want["edges"])
    errs += _diff("relation state", got["relations"], want["relations"])
    errs += _diff("update report ids", got["updates"], want["updates"])
    errs += _diff("insert report ids", got["inserts"], want["inserts"])
    if got["relation_report_rows"] != want["relation_report_rows"]:
        errs.append(f"relation report rows {got['relation_report_rows']} "
                    f"!= {want['relation_report_rows']}")
    if len(got["inserts"]) != delta["new_terms"]:
        errs.append(f"{len(got['inserts'])} class inserts, seeded {delta['new_terms']}")
    newly = got["newly_obsolete"]
    if len(newly) != delta["obsoleted"]:
        errs.append(f"{len(newly)} terms newly obsolete, seeded {delta['obsoleted']}")
    return errs


def expected_closure(terms, edges) -> set[tuple[str, str]]:
    _, _, closure = reference_extraction(terms, edges, ONT)
    return {(s, o) for s, _, o in closure}


def expected_assertions(sf_dir: str) -> set[tuple[str, str, str]]:
    """Redirect-resolved top-1 links (``oracle.q_linked_mentions_canonical``)
    labelled with their co-mention component (``oracle.q_union_find``,
    over the same extended mention dictionary the workload feeds)."""
    hub_dict = derive.MENTION_DICT_CTE.strip()
    ext_dict = derive.MENTION_DICT_EXT_CTE.strip().replace(
        "mention_dict_ext AS", "mention_dict AS", 1)
    uf_sql = oracle.q_union_find()
    if hub_dict not in uf_sql:
        raise RuntimeError("oracle.q_union_find no longer embeds MENTION_DICT_CTE")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf_dir}/part.parquet')")
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')")
        canon = con.execute(oracle.q_linked_mentions_canonical()).fetchall()
        comp = dict(con.execute(uf_sql.replace(hub_dict, ext_dict)).fetchall())
    finally:
        con.close()
    return {(c, "co_mentioned_with", comp.get(c, c)) for _, _, _, c in canon}


def check_assertions(got, want) -> list[str]:
    return _diff("assertions", got, want)
