"""Seeded input generator for the benchmark workloads.

The generator writes TPC-H-shaped ``part`` / ``lineitem`` parquet from
the seed and maps them to the KG input tables with the SQL restatement
of the repository's derivations (``inputs/derive.py``: ``TERM_DICT_CTE``,
``EDGES_CTE``, ``TRANSCRIPTS_CTE``, ``MENTION_DICT_EXT_CTE``), run in
DuckDB. The tables therefore have exactly the shapes the oracle gates
cover (id-shape quirks, binary-tree DAG with multi-parent extras,
obsolete terms detached, hub-term mention dictionary), while Spark is
never started for generation: the program only ever sees the parquet.

On top of the derived tables each workload adds its seeded part:

- ``ontology_release``: release N+1 = release N plus a delta of new
  terms, changed definitions, ``replaced_by`` obsolete chains, and
  hierarchy edges added and retracted near the roots and near the
  leaves; plus the edge delta as a CDC batch (add / delete ops) and
  its inverse;
- ``transcript_kg``: a lineitem table whose part picks are
  Zipf-skewed toward the hub terms of the mention dictionary.

Everything is a pure function of (workload, seed): the same seed gives
byte-identical rows.
"""

from __future__ import annotations

import json
import random
from bisect import bisect_left
from collections import defaultdict
from datetime import datetime, timedelta
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from ontology_loader_spark.inputs import derive, synth
from ontology_loader_spark.schemas import DEFAULT_PREDICATES

ONT = derive.ONT

# Input sizes per workload, on the TPC-H scale-factor shapes the
# derivations map from (part = 200,000 x SF terms, lineitem = about
# 6,000,000 x SF turns in orders of 1..7 lines):
#
# - ontology_release at SF 0.01 (2,000 terms), the scale of the
#   repository's oracle gates, with a delta of about 1.5 % of the edges
#   and 2 % of the definitions;
# - transcript_kg at SF 0.025 (5,000 terms, 37,500 conversations,
#   about 150,000 turns), a quarter of the SF 0.1 corpus.
#
# They are fixed so that every seed does the same amount of work; the
# seed only moves which keys are touched.
SIZES = {
    "ontology_release": {
        "n_terms": 2000, "name_words": 2, "new_terms": 8,
        "changed_defs": 40, "obsolete_chains": 2, "chain_len": 3,
        "edges_added": 8, "edges_retracted": 8,
    },
    "transcript_kg": {
        "n_terms": 5000, "name_words": 3, "compose_share": 0.5,
        "n_convs": 37500,
        "max_turns": 7, "hub_share": 0.6, "zipf_s": 1.1,
    },
}

TERM_DICT_SCHEMA = pa.schema([
    ("id", pa.string()), ("name", pa.string()), ("definition", pa.string()),
    ("alternative_names", pa.list_(pa.string())), ("is_obsolete", pa.bool_()),
    ("replaced_by", pa.string()),
])
EDGE_SCHEMA = pa.schema([
    ("subject", pa.string()), ("predicate", pa.string()), ("object", pa.string()),
])
EDGE_OP_SCHEMA = pa.schema([*EDGE_SCHEMA, ("op", pa.string())])

SUBCLASS = DEFAULT_PREDICATES[0]
WORDS = synth.ADJECTIVES + synth.NOUNS


def is_hub(k: int) -> bool:
    """Mention-dictionary membership (live or obsolete hub) of key k."""
    return k % derive.MOD_HUB_TERM[0] in (derive.MOD_HUB_TERM[1], derive.MOD_OBS_HUB[1])


def part_rows(rng: random.Random, n_terms: int, name_words: int,
              compose_share: float = 0.0) -> pa.Table:
    """part-shaped rows with seeded names; keys 1..n_terms. A
    ``compose_share`` of the names embed an earlier hub term's surface
    (``<hub name> <hub key> <word>``, as in "cell membrane protein"), so
    a turn about such a term also mentions the hub: the co-mentions the
    union-find groups."""
    names: dict[int, str] = {}
    hubs: list[int] = []
    for k in range(1, n_terms + 1):
        if hubs and rng.random() < compose_share:
            h = rng.choice(hubs)
            names[k] = f"{names[h]} {h} {rng.choice(WORDS)}"
        else:
            names[k] = " ".join(rng.choice(WORDS) for _ in range(name_words))
            if is_hub(k):
                hubs.append(k)
    keys = list(names)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [names[k] for k in keys],
        "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for _ in keys],
        "p_type": [rng.choice(["ECONOMY", "PROMO", "STANDARD"]) for _ in keys],
        "p_size": pa.array([rng.randint(1, 50) for _ in keys], pa.int32()),
        "p_retailprice": [900.0 + rng.randint(0, 9999) / 10.0 for _ in keys],
    })


def zipf_picker(rng: random.Random, items: list, s: float):
    """Draw from ``items`` with Zipf(s) weights over a seeded rank order."""
    ranked = list(items)
    rng.shuffle(ranked)
    cum, total = [], 0.0
    for r in range(len(ranked)):
        total += 1.0 / (r + 1) ** s
        cum.append(total)
    return lambda: ranked[min(bisect_left(cum, rng.random() * total), len(ranked) - 1)]


def lineitem_rows(rng: random.Random, n_terms: int, n_convs: int,
                  max_turns: int, hub_share: float, zipf_s: float) -> pa.Table:
    """lineitem-shaped rows: one conversation per order, one turn per
    line (line numbers unique per order), part picks Zipf-skewed with
    ``hub_share`` of them drawn from the mention-dictionary hubs."""
    hubs = [k for k in range(1, n_terms + 1) if is_hub(k)]
    pick_hub = zipf_picker(rng, hubs, zipf_s)
    pick_any = zipf_picker(rng, list(range(1, n_terms + 1)), zipf_s)
    cols = defaultdict(list)
    t0 = datetime(2026, 1, 1)
    # a fixed multiset of conversation lengths, shuffled by the seed
    lengths = [1 + i % max_turns for i in range(n_convs)]
    rng.shuffle(lengths)
    for order, n_lines in enumerate(lengths, start=1):
        for line in range(1, n_lines + 1):
            cols["l_orderkey"].append(order)
            cols["l_partkey"].append(
                pick_hub() if rng.random() < hub_share else pick_any())
            cols["l_suppkey"].append(rng.randint(1, 100))
            cols["l_linenumber"].append(line)
            cols["l_returnflag"].append(rng.choice(synth.FLAGS))
            cols["l_linestatus"].append(rng.choice(synth.STATUS))
            cols["l_shipdate"].append(t0 + timedelta(days=rng.randint(0, 364)))
    return pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        "l_returnflag": cols["l_returnflag"],
        "l_linestatus": cols["l_linestatus"],
        "l_shipdate": pa.array(cols["l_shipdate"], pa.timestamp("us")),
    })


def _sql(con, *ctes: str, body: str) -> pa.Table:
    return con.execute(derive.with_ctes(*ctes, body=body)).fetch_arrow_table()


def derive_terms_edges(part: pa.Table) -> tuple[list[tuple], list[tuple]]:
    """term_dict rows (id, name, definition, aliases, is_obsolete,
    replaced_by) and edge rows (s, p, o) via the derive SQL."""
    con = duckdb.connect()
    con.register("part", part)
    td = _sql(con, derive.TERM_DICT_CTE, body=(
        "SELECT id, name, definition, alt_names_str, is_obsolete, replaced_by "
        "FROM term_dict ORDER BY k")).to_pylist()
    ed = _sql(con, derive.EDGES_CTE, body=(
        "SELECT subject, predicate, object FROM edges "
        "ORDER BY subject, predicate, object")).to_pylist()
    con.close()
    terms = [(r["id"], r["name"], r["definition"],
              [r["alt_names_str"]] if r["alt_names_str"] else [],
              bool(r["is_obsolete"]), r["replaced_by"]) for r in td]
    edges = [(r["subject"], r["predicate"], r["object"]) for r in ed]
    return terms, edges


def terms_table(terms: list[tuple]) -> pa.Table:
    cols = list(zip(*terms))
    return pa.table({f.name: list(c) for f, c in zip(TERM_DICT_SCHEMA, cols)},
                    schema=TERM_DICT_SCHEMA)


def edges_table(edges: list[tuple], op: str | None = None) -> pa.Table:
    cols = list(zip(*edges)) if edges else [[], [], []]
    data = {f.name: list(c) for f, c in zip(EDGE_SCHEMA, cols)}
    if op is None:
        return pa.table(data, schema=EDGE_SCHEMA)
    data["op"] = [op] * len(edges)
    return pa.table(data, schema=EDGE_OP_SCHEMA)


def _key(term_id: str) -> int:
    return int(term_id.split(":", 1)[1]) if ":" in term_id else -1


def _hier(edges):
    return [e for e in edges if e[1] in DEFAULT_PREDICATES]


def graph_props(terms: list[tuple], edges: list[tuple]) -> dict:
    """Depth and multi-parent share of the live hierarchy."""
    parents = defaultdict(set)
    for s, _, o in _hier(edges):
        parents[s].add(o)
    depth: dict[str, int] = {}

    def d(t, seen=()):
        if t in depth:
            return depth[t]
        if t in seen:
            return 0
        v = 1 + max((d(p, seen + (t,)) for p in parents.get(t, ())), default=-1)
        depth[t] = v
        return v

    live = [t[0] for t in terms if not t[4]]
    return {
        "depth": max((d(t) for t in live), default=0),
        "multi_parent_share": round(
            sum(len(parents.get(t, ())) > 1 for t in live) / max(len(live), 1), 4),
    }


def descendants(edges: list[tuple], roots) -> set[str]:
    """Reverse reach over the hierarchy edges (the delta cone)."""
    children = defaultdict(set)
    for s, _, o in _hier(edges):
        children[o].add(s)
    seen, stack = set(roots), list(roots)
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in seen:
                seen.add(c)
                stack.append(c)
    return seen


def _live_plain(terms) -> list[str]:
    return [t[0] for t in terms if t[0].startswith("FIX:") and not t[4]]


# Subject keys 4..7 sit two levels under the roots of the derived DAG
# (child k -> parent k // 2), so an edge op there has a cone of about an
# eighth of the ontology; keys above n / 2 are leaves with a cone of one
# or two terms. Fixed bands keep the fixpoints' round counts, and so the
# work per pass, the same for every seed.
TOP_KEYS = (4, 7)


def _near_root(term_id: str) -> bool:
    return TOP_KEYS[0] <= _key(term_id) <= TOP_KEYS[1]


def _pick_edges(rng, pool, n, n_terms):
    """``n`` edges from ``pool`` (sorted): half with a subject near the
    roots (large cone), half near the leaves (small cone)."""
    top = [e for e in pool if _near_root(e[0])]
    low = [e for e in pool if _key(e[0]) > n_terms // 2]
    n_top = min(len(top), n // 2)
    return rng.sample(top, n_top) + rng.sample(low, n - n_top)


def _new_edges(rng, terms, existing, n, n_terms):
    """``n`` new acyclic subClassOf edges child k -> parent j < k that
    do not exist yet (parents have smaller keys in the derived DAG):
    half from a near-root child to a higher term, half from a leaf to a
    top-level term (keys 2..3)."""
    live = set(_live_plain(terms))
    have = {(s, o) for s, _, o in existing}
    out = []
    while len(out) < n:
        if len(out) < n // 2:
            k = rng.randint(*TOP_KEYS)
            j = rng.randint(1, k - 1)
        else:
            k = rng.randint(n_terms // 2, n_terms)
            j = rng.randint(2, 3)
        s, o = f"FIX:{k}", f"FIX:{j}"
        if s in live and o in live and (s, o) not in have:
            have.add((s, o))
            out.append((s, SUBCLASS, o))
    return out


def release_delta(rng: random.Random, terms, edges, size: dict):
    """Release N+1 from release N; returns (terms, edges, (edge adds,
    edge deletes), delta counts).

    Definitions change anywhere; the obsolete chain and new terms sit at
    the leaves; added and retracted edges are half near the roots and
    half near the leaves. Where the edge ops land comes from a fixed
    stream, so every seed needs the same fixpoint rounds and Spark jobs;
    the seed moves names, definitions, which terms change and the
    redirect targets."""
    srng = random.Random("ontology_release:structure")
    n = size["n_terms"]
    by_id = {t[0]: list(t) for t in terms}
    live = sorted(_live_plain(terms), key=_key)
    leaves = [t for t in live if _key(t) > n // 2]
    chain_ids = srng.sample(leaves, size["obsolete_chains"] * size["chain_len"])
    changed = rng.sample([t for t in live if t not in chain_ids], size["changed_defs"])
    for tid in changed:
        by_id[tid][2] = f"revised definition {rng.randint(0, 10**6)}"
    obsoleted = set(chain_ids)
    targets = [t for t in live if t not in obsoleted]
    for c in range(size["obsolete_chains"]):
        chain = chain_ids[c * size["chain_len"]:(c + 1) * size["chain_len"]]
        for tid, nxt in zip(chain, chain[1:] + [rng.choice(targets)]):
            by_id[tid][4], by_id[tid][5] = True, nxt
    new_terms = [[f"FIX:{k}", f"new term {rng.choice(WORDS)} {k}",
                  f"added in release {rng.randint(0, 10**6)}", [], False, None]
                 for k in range(n + 1, n + 1 + size["new_terms"])]
    # obsolete subjects are detached, as in the derived release
    kept = [e for e in edges if e[0] not in obsoleted]
    hier = sorted(e for e in _hier(kept) if e[1] == SUBCLASS)
    retracted = set(_pick_edges(srng, hier, size["edges_retracted"], n))
    kept = [e for e in kept if e not in retracted]
    added = _new_edges(srng, terms, edges, size["edges_added"], n)
    added += [(t[0], SUBCLASS, srng.choice(leaves[:len(leaves) // 2]))
              for t in new_terms]
    terms_n1 = [tuple(v) for v in by_id.values()] + [tuple(t) for t in new_terms]
    edges_n1 = sorted(set(kept) | set(added))
    ops_add = sorted(set(edges_n1) - set(edges))
    ops_del = sorted(set(edges) - set(edges_n1))
    delta = {
        "new_terms": len(new_terms), "changed_defs": len(changed),
        "obsoleted": len(obsoleted), "chain_len": size["chain_len"],
        "edges_added": len(ops_add), "edges_retracted": len(ops_del),
        "delta_cone": len(descendants(edges, {e[0] for e in ops_add + ops_del})),
    }
    return terms_n1, edges_n1, (ops_add, ops_del), delta


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write the workload's parquet under ``out``; returns the manifest
    (paths, sizes and the properties the workload varies)."""
    size = SIZES[workload]
    rng = random.Random(f"{workload}:{seed}")
    part = part_rows(rng, size["n_terms"], size["name_words"],
                     size.get("compose_share", 0.0))
    _write(part, out / "sf" / "part.parquet")
    terms, edges = derive_terms_edges(part)
    props = {"terms": len(terms), "edges": len(edges), **graph_props(terms, edges)}
    files = {}

    if workload == "ontology_release":
        terms_n1, edges_n1, (ops_add, ops_del), delta = release_delta(
            rng, terms, edges, size)
        # the live closure follows the release as one CDC batch, and the
        # inverse batch takes it back to release N
        forward = pa.concat_tables([edges_table(ops_add, "add"),
                                    edges_table(ops_del, "delete")])
        inverse = pa.concat_tables([edges_table(ops_del, "add"),
                                    edges_table(ops_add, "delete")])
        for name, tbl in (("terms_n", terms_table(terms)), ("edges_n", edges_table(edges)),
                          ("terms_n1", terms_table(terms_n1)),
                          ("edges_n1", edges_table(edges_n1)),
                          ("cdc_forward", forward), ("cdc_inverse", inverse)):
            files[name] = str(out / f"{name}.parquet")
            _write(tbl, Path(files[name]))
        props.update(delta, edge_ops_per_batch=forward.num_rows,
                     rows_per_pass=len(terms_n1) + len(edges_n1) + forward.num_rows)
    elif workload == "transcript_kg":
        li = lineitem_rows(rng, size["n_terms"], size["n_convs"], size["max_turns"],
                           size["hub_share"], size["zipf_s"])
        _write(li, out / "sf" / "lineitem.parquet")
        con = duckdb.connect()
        con.register("part", part)
        con.register("lineitem", li)
        tr = _sql(con, derive.TRANSCRIPTS_CTE,
                  body="SELECT * FROM transcripts ORDER BY conv_id, turn_idx, text")
        md = _sql(con, derive.TERM_DICT_CTE, derive.MENTION_DICT_EXT_CTE,
                  body="SELECT id, name FROM mention_dict_ext ORDER BY id")
        con.close()
        files["transcripts"] = str(out / "transcripts.parquet")
        files["mention_dict"] = str(out / "mention_dict.parquet")
        files["terms"] = str(out / "terms.parquet")
        _write(tr, Path(files["transcripts"]))
        _write(md, Path(files["mention_dict"]))
        _write(terms_table(terms), Path(files["terms"]))
        picks = li.column("l_partkey").to_pylist()
        counts = defaultdict(int)
        for p in picks:
            counts[p] += 1
        props.update(
            turns=tr.num_rows, dictionary_size=md.num_rows,
            text_len_mean=round(sum(len(t) for t in tr.column("text").to_pylist())
                                / max(tr.num_rows, 1), 2),
            zipf_s=size["zipf_s"], hub_share=size["hub_share"],
            top1_term_share=round(max(counts.values()) / len(picks), 4),
            rows_per_pass=tr.num_rows,
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")

    manifest = {"workload": workload, "seed": seed, "sizes": size,
                "props": props, "files": files, "sf_dir": str(out / "sf")}
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest
