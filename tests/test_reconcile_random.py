"""Randomized reconciliation equivalence: the Spark M1→M2→M3 pipeline
vs the independent row-at-a-time restatement of the reference's
``upsert_ontology_data`` (testing/pyreference.py) on seeded random
scenarios — priors with stale/identical/missing docs, incoming
obsoletes, invalid relations, obsolete-referencing relations; and
priors holding identical duplicate copies of some ids (Q11) with
relation types that differ between the store and the batch (M3:
incoming wins)."""

import random

import pytest

from ontology_loader_spark.operators.reconcile import reconcile
from ontology_loader_spark.schemas import ONTOLOGY_CLASS_SCHEMA, RELATION_SCHEMA
from ontology_loader_spark.testing.pyreference import reference_reconcile

NAMES = ["alpha", "beta", "gamma", ""]
DEFS = ["d1", "d2", ""]


def random_class(rng, tid, obsolete_rate=0.2, with_relations=True):
    rels = tuple()
    if with_relations and rng.random() < 0.5:
        rels = tuple(
            sorted(
                {
                    (tid, "p", f"A:{rng.randrange(10)}", "nmdc:OntologyRelation")
                    for _ in range(rng.randrange(1, 3))
                }
            )
        )
    return {
        "id": tid,
        "type": "nmdc:OntologyClass",
        "alternative_names": tuple(
            rng.sample(["x", "y", "z"], rng.randrange(0, 2))
        ),
        "definition": rng.choice(DEFS),
        "relations": rels,
        "is_root": rng.random() < 0.3,
        "is_obsolete": rng.random() < obsolete_rate,
        "name": rng.choice(NAMES),
    }


def random_relation(rng, invalid_rate=0.1):
    def part():
        if rng.random() < invalid_rate:
            return ""
        return f"A:{rng.randrange(10)}"

    return (part(), "rdfs:subClassOf" if rng.random() < 0.8 else "",
            part(), "nmdc:OntologyRelation")


def to_class_rows(dicts):
    return [
        (d["id"], d["type"], list(d["alternative_names"]), d["definition"],
         [tuple(r) for r in d["relations"]], d["is_root"], d["is_obsolete"],
         d["name"])
        for d in dicts
    ]


def canon_class(row_or_dict):
    g = (row_or_dict.get if isinstance(row_or_dict, dict)
         else lambda k: row_or_dict[k])
    return (
        g("id"), g("type"), tuple(g("alternative_names")), g("definition"),
        tuple((r[0], r[1], r[2], r[3]) for r in g("relations")),
        bool(g("is_root")), bool(g("is_obsolete")), g("name"),
    )


def assert_matches_reference(spark, seed, incoming, incoming_rels, prior, prior_rels):
    want = reference_reconcile(incoming, incoming_rels, prior, prior_rels)
    (w_classes, w_rels, w_updates, w_inserts, w_rel_report, w_invalid) = want

    df_inc = spark.createDataFrame(to_class_rows(incoming), ONTOLOGY_CLASS_SCHEMA)
    df_prior = spark.createDataFrame(to_class_rows(prior), ONTOLOGY_CLASS_SCHEMA)
    df_inc_r = spark.createDataFrame(incoming_rels, RELATION_SCHEMA)
    df_prior_r = spark.createDataFrame(prior_rels, RELATION_SCHEMA)

    res = reconcile(df_inc, df_inc_r, df_prior, df_prior_r)

    got_classes = sorted(canon_class(r) for r in res.class_state.collect())
    want_classes = sorted(canon_class(d) for d in w_classes)
    assert got_classes == want_classes, f"seed={seed} class state diverged"

    # the reference keys its relation store on (s,p,o) and an upsert
    # overwrites the stored row: the type of the last valid (F2)
    # incoming row for a key wins over the stored one
    row_type = {(r[0], r[1], r[2]): r[3] for r in prior_rels}
    row_type.update({(r[0], r[1], r[2]): r[3] for r in incoming_rels if all(r[:3])})
    got_rels = {(r["subject"], r["predicate"], r["object"], r["type"])
                for r in res.relation_state.collect()}
    assert got_rels == {(*k, row_type[k]) for k in w_rels}, f"seed={seed}"

    assert {r["id"] for r in res.class_updates_report.collect()} == set(w_updates)
    assert {r["id"] for r in res.class_inserts_report.collect()} == set(w_inserts)
    assert res.relation_inserts_report.count() == len(w_rel_report)
    assert res.invalid_relation_count == w_invalid


@pytest.mark.parametrize("seed", [11, 22, 33, 44, 55, 66])
def test_random_reconcile_matches_reference(spark, seed):
    rng = random.Random(seed)
    ids = [f"A:{i}" for i in range(10)]

    prior_ids = rng.sample(ids, rng.randrange(3, 8))
    prior = [random_class(rng, t, obsolete_rate=0.0) for t in prior_ids]
    incoming_ids = rng.sample(ids, rng.randrange(3, 9))
    incoming = [random_class(rng, t, obsolete_rate=0.3) for t in incoming_ids]
    prior_rels = list({random_relation(rng, invalid_rate=0.0)
                       for _ in range(rng.randrange(0, 8))})
    incoming_rels = [random_relation(rng) for _ in range(rng.randrange(0, 10))]

    assert_matches_reference(spark, seed, incoming, incoming_rels, prior, prior_rels)


@pytest.mark.parametrize("seed", [7, 17, 27, 37, 47, 57])
def test_random_reconcile_duplicate_ids_and_relation_types(spark, seed):
    """Q11 and M3 under randomization. The prior stores identical
    duplicate copies of some ids; incoming obsoletes hit both a
    duplicated id (M1 skipped) and an id stored once (M1 applied: the
    stored doc is marked obsolete and its relations cleared, and when
    the incoming doc equals that post-M1 doc the id routes as
    unchanged yet the state carries M1). Stored relations carry one of
    two types, incoming ones a type fixed by their key, so the
    end-state type shows which side won."""
    rng = random.Random(seed)
    ids = [f"A:{i}" for i in range(10)]

    prior_ids = rng.sample(ids, rng.randrange(4, 8))
    prior = [random_class(rng, t, obsolete_rate=0.3) for t in prior_ids]
    dup_ids, unique_ids = prior_ids[:2], prior_ids[2:]
    prior += [dict(d) for d in prior if d["id"] in dup_ids]
    rng.shuffle(prior)
    by_id = {d["id"]: d for d in prior}

    incoming_ids = set(rng.sample(ids, rng.randrange(3, 9)))
    incoming_ids |= {rng.choice(dup_ids), rng.choice(unique_ids)}
    incoming = []
    for t in sorted(incoming_ids):
        if t in by_id and rng.random() < 0.6:
            doc = dict(by_id[t])
            if rng.random() < 0.5:
                doc["is_obsolete"] = True
                if t in unique_ids and rng.random() < 0.5:
                    doc["relations"] = tuple()
        else:
            doc = random_class(rng, t, obsolete_rate=0.4)
        incoming.append(doc)
    # at least one obsolete on a duplicated id and one on a unique id
    for pool in (dup_ids, unique_ids):
        if not any(d["is_obsolete"] for d in incoming if d["id"] in pool):
            hit = next(d for d in incoming if d["id"] in pool)
            hit["is_obsolete"] = True

    def incoming_type(rel):
        # duplicates of a key in the batch agree on the type
        return "new:Even" if sum(map(ord, "".join(rel[:3]))) % 2 else "new:Odd"

    # the store is distinct on the key
    prior_rels = list({
        r[:3]: (*r[:3], rng.choice(["nmdc:OntologyRelation", "old:Relation"]))
        for r in (random_relation(rng, invalid_rate=0.0)
                  for _ in range(rng.randrange(2, 10)))
    }.values())
    # some incoming rows overlap the store, so the upsert overwrites them
    incoming_rels = [random_relation(rng) for _ in range(rng.randrange(2, 12))]
    incoming_rels += rng.sample(prior_rels, min(2, len(prior_rels)))
    incoming_rels = [(*r[:3], incoming_type(r)) for r in incoming_rels]

    assert_matches_reference(spark, seed, incoming, incoming_rels, prior, prior_rels)
