"""Transcript front-end tests: the north rule's per-turn text-equality
invariant under stable ordering, mention detection determinism,
linking, union-find, and the redirect map."""

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.operators.redirects import redirect_map
from ontology_loader_spark.schemas import TERM_DICT_SCHEMA, TRANSCRIPT_SCHEMA
from ontology_loader_spark.transcripts.mentions import detect_mentions, top1_links
from ontology_loader_spark.transcripts.ordering import reassembled, with_turn_order
from ontology_loader_spark.transcripts.unionfind import (
    comention_pairs,
    connected_components,
)

import datetime

TS = datetime.datetime(2026, 1, 1)


def turns(conv, texts):
    # written out of order on purpose (FIXTURES.md: generated out of
    # order on disk to force the windowed reordering path)
    rows = [
        (conv, i, ["user", "assistant", "tool"][i % 3], t,
         "search" if i % 3 == 2 else None, TS + datetime.timedelta(seconds=i))
        for i, t in enumerate(texts)
    ]
    return rows[::-1]


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = turns("c1", ["alpha beta", "gamma", "alpha delta epsilon"]) + turns(
        "c2", ["zeta alpha", "beta gamma beta"]
    )
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_per_turn_text_equality_invariant(spark, transcripts):
    """After windowed ordering, per-(conv_id, turn_idx) text equals the
    input byte-for-byte, and rn follows turn_idx order."""
    ordered = with_turn_order(transcripts)
    rows = ordered.collect()
    inp = {(r["conv_id"], r["turn_idx"]): r["text"] for r in transcripts.collect()}
    for r in rows:
        assert r["text"] == inp[(r["conv_id"], r["turn_idx"])]
        assert r["rn"] == r["turn_idx"] + 1  # contiguous per conv here


def test_reassembly_stable(spark, transcripts):
    got = {r["conv_id"]: r["conv_text"] for r in reassembled(transcripts).collect()}
    assert got["c1"] == "alpha beta\ngamma\nalpha delta epsilon"
    assert got["c2"] == "zeta alpha\nbeta gamma beta"


@pytest.fixture(scope="module")
def mention_dict(spark):
    return spark.createDataFrame(
        [("T:1", "alpha"), ("T:2", "beta"), ("T:3", "alpha delta"), ("T:4", "nomatch")],
        "id string, name string",
    )


def test_mention_detection_substring_semantics(spark, transcripts, mention_dict):
    m = detect_mentions(spark, transcripts, mention_dict)
    got = {(r["conv_id"], r["turn_idx"], r["term_id"]) for r in m.collect()}
    assert ("c1", 0, "T:1") in got and ("c1", 0, "T:2") in got
    assert ("c1", 2, "T:1") in got and ("c1", 2, "T:3") in got  # overlapping
    assert all(t != "T:4" for _, _, t in got)
    # bag-per-turn: 'beta gamma beta' emits T:2 once per (turn, term)
    assert sum(1 for c, i, t in got if (c, i, t) == ("c2", 1, "T:2")) == 1


def test_mention_detection_partitioning_invariant(spark, transcripts, mention_dict):
    """Results must not depend on partitioning/batch boundaries
    (SURVEY.md §7.3.5)."""
    m1 = sorted(map(tuple, detect_mentions(spark, transcripts.repartition(1),
                                           mention_dict).collect()))
    m8 = sorted(map(tuple, detect_mentions(spark, transcripts.repartition(8),
                                           mention_dict).collect()))
    assert m1 == m8


def test_top1_longest_surface_wins(spark, transcripts, mention_dict):
    links = top1_links(detect_mentions(spark, transcripts, mention_dict))
    got = {(r["conv_id"], r["turn_idx"]): r["term_id"] for r in links.collect()}
    assert got[("c1", 2)] == "T:3"  # 'alpha delta' beats 'alpha'
    assert got[("c1", 0)] == "T:1"  # tie-ish: alpha(5) = beta(4)? alpha longer


def test_union_find_components(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("x", "y"), ("y", "x")],
        "u string, v string",
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("x",), ("y",), ("lone",)],
                                  "node string")
    comps = {r["node"]: r["component"]
             for r in connected_components(nodes, pairs).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["lone"] == "lone"


def test_comention_pairs_symmetric(spark, transcripts, mention_dict):
    m = detect_mentions(spark, transcripts, mention_dict)
    pairs = {(r["u"], r["v"]) for r in comention_pairs(m).collect()}
    assert all((v, u) in pairs for u, v in pairs)
    assert all(u != v for u, v in pairs)


def test_redirect_map_follows_chains(spark):
    td = spark.createDataFrame(
        [
            ("A:1", "one", "", [], True, "A:2"),
            ("A:2", "two", "", [], True, "A:3"),   # chained redirect
            ("A:3", "three", "", [], False, None),
            ("A:4", "four", "", [], False, None),
        ],
        TERM_DICT_SCHEMA,
    )
    got = {r["src"]: r["dst"] for r in redirect_map(td).collect()}
    assert got == {"A:1": "A:3", "A:2": "A:3"}


def test_sharded_detection_equals_broadcast(spark):
    """The sharded (no-driver-collect) detector must return exactly the
    unsharded result on the derived corpus — shard/salt choices are
    physical only."""
    from ontology_loader_spark.inputs import derive
    from ontology_loader_spark.transcripts.mentions import (
        _detect_mentions_sharded,
        detect_mentions,
    )

    sf = "/root/testdata/sf0.001"
    tr = derive.derive_transcripts(spark, sf)
    md = derive.derive_mention_dict(spark, sf)
    base = sorted(map(tuple, detect_mentions(spark, tr, md).collect()))
    for n_shards, n_salt in ((1, 1), (4, 4), (3, 2)):
        sharded = sorted(map(tuple, _detect_mentions_sharded(
            tr, md, n_shards=n_shards, n_salt=n_salt).collect()))
        assert sharded == base


def test_sharded_detection_large_dictionary(spark):
    """Memory-bound path: a dictionary far beyond sensible broadcast
    size per shard still detects correctly (each task builds only its
    shard's automaton: ~|dict|/n_shards states)."""
    import datetime

    from ontology_loader_spark.schemas import TRANSCRIPT_SCHEMA
    from ontology_loader_spark.transcripts.mentions import _detect_mentions_sharded

    n_terms = 50_000
    md = spark.range(n_terms).selectExpr(
        "concat('T:', id) AS id", "concat('surface', id, 'x') AS name"
    )
    base_ts = datetime.datetime(2026, 3, 1)
    rows = [
        (f"c{i}", 0, "user", f"text mentions surface{i * 97 % n_terms}x here",
         None, base_ts)
        for i in range(300)
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    got = {(r["conv_id"], r["term_id"])
           for r in _detect_mentions_sharded(tr, md, n_shards=8,
                                             n_salt=2).collect()}
    want = {(f"c{i}", f"T:{i * 97 % n_terms}") for i in range(300)}
    assert got == want


def test_union_find_auto_dispatch_parity(spark, monkeypatch):
    """Auto-dispatch picks the variant from the measured pair count;
    all three variants agree (min-label parity), including the
    long-typed node domain and nodes untouched by any pair."""
    from ontology_loader_spark import partitioning
    from ontology_loader_spark.transcripts.unionfind import (
        connected_components,
        connected_components_auto,
        connected_components_dict_bounded,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (7, 9), (9, 7)], "u long, v long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 9, 42)],
                                  "node long")
    expect = {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 42: 42}
    for comps_df in (
        connected_components(nodes, pairs),
        connected_components_dict_bounded(nodes, pairs),
        connected_components_auto(nodes, pairs),             # dict path
    ):
        got = {r["node"]: r["component"] for r in comps_df.collect()}
        assert got == expect
    with monkeypatch.context() as mp:
        mp.setattr(partitioning, "BROADCAST_ROWS_MAX", 0)
        iterative = connected_components_auto(nodes, pairs)
        assert {r["node"]: r["component"] for r in iterative.collect()} == expect

    # empty pair set: every node is its own component on both paths
    empty = spark.createDataFrame([], "u long, v long")
    for df in (connected_components_auto(nodes, empty),
               connected_components_dict_bounded(nodes, empty)):
        assert {r["node"]: r["component"] for r in df.collect()} == {
            i: i for i in (1, 2, 3, 7, 9, 42)}


def test_mention_ancestor_triples_expand_through_closure(spark):
    """Each linked mention expands into one row per closure ancestor of
    its term (reflexive included); unlinked turns contribute nothing;
    foreign ancestors stay filtered (Q2)."""
    import datetime

    from ontology_loader_spark.pipeline import mention_ancestor_triples
    from ontology_loader_spark.schemas import (
        EDGE_SCHEMA,
        TERM_DICT_SCHEMA,
        TRANSCRIPT_SCHEMA,
    )

    base = datetime.datetime(2026, 6, 1)
    tr = spark.createDataFrame(
        [
            ("c1", 0, "user", "we saw an oak today", None, base),
            ("c1", 1, "agent", "nothing relevant here", None, base),
            ("c2", 0, "user", "oak and maple", None, base),
        ],
        TRANSCRIPT_SCHEMA,
    )
    md = spark.createDataFrame(
        [("P:oak", "oak"), ("P:maple", "maple")], "id string, name string"
    )
    td = spark.createDataFrame(
        [(f"P:{n}", n, "", [], False, None)
         for n in ("oak", "maple", "tree", "plant")],
        TERM_DICT_SCHEMA,
    )
    ed = spark.createDataFrame(
        [
            ("P:oak", "rdfs:subClassOf", "P:tree"),
            ("P:maple", "rdfs:subClassOf", "P:tree"),
            ("P:tree", "rdfs:subClassOf", "P:plant"),
            ("P:tree", "rdfs:subClassOf", "Q:foreign"),
        ],
        EDGE_SCHEMA,
    )

    got = {
        (r["conv_id"], r["turn_idx"], r["term_id"], r["ancestor"])
        for r in mention_ancestor_triples(spark, tr, md, ed, td, "p").collect()
    }
    # c1/0 links "oak" (top-1): reflexive + tree + plant, no Q:foreign
    assert {(c, t, m, a) for (c, t, m, a) in got if c == "c1"} == {
        ("c1", 0, "P:oak", "P:oak"),
        ("c1", 0, "P:oak", "P:tree"),
        ("c1", 0, "P:oak", "P:plant"),
    }
    # c2/0 top-1 is the longest surface ("maple" > "oak")
    assert {(c, t, m, a) for (c, t, m, a) in got if c == "c2"} == {
        ("c2", 0, "P:maple", "P:maple"),
        ("c2", 0, "P:maple", "P:tree"),
        ("c2", 0, "P:maple", "P:plant"),
    }


def test_redirect_map_terminates_on_cycles(spark):
    """A replaced_by cycle (curation error) must not hang: the chain
    follower is iteration-bounded and every obsolete source still gets
    exactly one row (its dst lands somewhere inside the cycle); clean
    chains resolve to their live end unaffected."""
    from ontology_loader_spark.operators.redirects import redirect_map
    from ontology_loader_spark.schemas import TERM_DICT_SCHEMA

    td = spark.createDataFrame(
        [
            ("P:a", "a", "", [], True, "P:b"),   # a -> b -> a cycle
            ("P:b", "b", "", [], True, "P:a"),
            ("P:c", "c", "", [], True, "P:d"),   # clean chain c -> d -> e
            ("P:d", "d", "", [], True, "P:e"),
            ("P:e", "e", "", [], False, None),   # live end
            ("P:f", "f", "", [], True, "P:f"),   # self-redirect
        ],
        TERM_DICT_SCHEMA,
    )
    got = {r["src"]: r["dst"] for r in redirect_map(td).collect()}
    assert set(got) == {"P:a", "P:b", "P:c", "P:d", "P:f"}
    assert got["P:c"] == "P:e" and got["P:d"] == "P:e"
    assert got["P:a"] in ("P:a", "P:b") and got["P:b"] in ("P:a", "P:b")
    assert got["P:f"] == "P:f"


def test_mention_ancestor_shuffle_path_matches_broadcast(spark, monkeypatch):
    """NCBITaxon-scale closures exceed Spark's broadcast ceiling, so the
    closure join must auto-dispatch onto a shuffle-hash equi-join with
    identical output. Force the shuffle branch with a zero ceiling and
    assert it returns the broadcast arm's rows and neither broadcasts
    nor sort-merges."""
    import datetime

    from ontology_loader_spark import partitioning
    from ontology_loader_spark import pipeline as pl
    from ontology_loader_spark.schemas import (
        EDGE_SCHEMA,
        TERM_DICT_SCHEMA,
        TRANSCRIPT_SCHEMA,
    )

    base = datetime.datetime(2026, 6, 1)
    tr = spark.createDataFrame(
        [(f"c{i % 7}", i // 7, "user", f"term{i % 9} in passing", None, base)
         for i in range(120)],
        TRANSCRIPT_SCHEMA,
    )
    md = spark.createDataFrame(
        [(f"P:t{j}", f"term{j}") for j in range(9)], "id string, name string"
    )
    td = spark.createDataFrame(
        [(f"P:t{j}", f"term{j}", "", [], False, None) for j in range(9)]
        + [("P:root", "root", "", [], False, None)],
        TERM_DICT_SCHEMA,
    )
    ed = spark.createDataFrame(
        [(f"P:t{j}", "rdfs:subClassOf", f"P:t{j // 2}") for j in range(1, 9)]
        + [("P:t0", "rdfs:subClassOf", "P:root")],
        EDGE_SCHEMA,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    bcast = rows(pl.mention_ancestor_triples(spark, tr, md, ed, td, "p"))
    assert len(bcast) > 0

    monkeypatch.setattr(partitioning, "BROADCAST_ROWS_MAX", 0)
    shuf = pl.mention_ancestor_triples(spark, tr, md, ed, td, "p")
    assert rows(shuf) == bcast
    plan = shuf._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin [term_id" in plan
    assert "SortMergeJoin" not in plan

    # the rollup consumes the same dispatcher — must stay green too
    roll = pl.ancestor_mention_rollup(spark, tr, md, ed, td, "p")
    want = {}
    for (_, c, t, _m, a) in [(None,) + r for r in bcast]:
        n_turns, n_mentions = want.get(a, (set(), 0))
        want[a] = (n_turns | {(c, t)}, n_mentions + 1)
    got = {r["ancestor"]: (r["n_turns"], r["n_mentions"]) for r in roll.collect()}
    assert got == {a: (len(s), n) for a, (s, n) in want.items()}
