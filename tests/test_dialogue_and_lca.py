"""Hand-built semantics tests for the round-5 additions: term LCA /
Wu-Palmer similarity (operators/graph.py), dialogue transition stats
and tool usage (transcripts/dialogue.py), and the conversation
KG-coverage profile (pipeline.py). The sf-scale value-hash parity vs
DuckDB runs through scripts/check_queries_vs_oracle.py; these tests
pin the SEMANTICS on fixtures where the expected answer is derivable
by hand."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from ontology_loader_spark.operators.graph import term_depth, term_lca
from ontology_loader_spark.transcripts.dialogue import (
    tool_usage_profile,
    turn_transition_stats,
)


#        R
#       / \
#      A   B
#     / \   \
#    C   D   E      (child -> parent edges)
#    |
#    F
_EDGES = [
    ("A", "R"), ("B", "R"), ("C", "A"), ("D", "A"), ("E", "B"), ("F", "C"),
]


def _closure_df(spark):
    """Reflexive ancestor pairs for the hand DAG."""
    anc = {
        "R": {"R"},
        "A": {"A", "R"}, "B": {"B", "R"},
        "C": {"C", "A", "R"}, "D": {"D", "A", "R"},
        "E": {"E", "B", "R"}, "F": {"F", "C", "A", "R"},
    }
    rows = [(s, o) for s, xs in anc.items() for o in xs]
    return spark.createDataFrame(rows, "subject string, object string")


def _depths_df(spark):
    rows = [("R", 0), ("A", 1), ("B", 1), ("C", 2), ("D", 2), ("E", 2), ("F", 3)]
    return spark.createDataFrame(rows, "id string, depth int")


def test_term_lca_hand_dag(spark):
    pairs = spark.createDataFrame(
        [("C", "D"), ("C", "E"), ("F", "C"), ("A", "B")], "a string, b string"
    )
    out = {
        (r["a"], r["b"]): r
        for r in term_lca(_closure_df(spark), _depths_df(spark), pairs).collect()
    }
    # siblings under A
    assert out[("C", "D")]["lca"] == "A"
    assert out[("C", "D")]["lca_depth"] == 1
    assert out[("C", "D")]["wup_ppm"] == (2 * 1 * 1_000_000) // (2 + 2)
    # cross-branch: only the root is shared
    assert out[("C", "E")]["lca"] == "R"
    assert out[("C", "E")]["wup_ppm"] == 0
    # nested pair: reflexive closure resolves to the SHALLOWER-set
    # member itself (C is an ancestor of F)
    assert out[("F", "C")]["lca"] == "C"
    assert out[("F", "C")]["lca_depth"] == 2
    assert out[("F", "C")]["wup_ppm"] == (2 * 2 * 1_000_000) // (3 + 2)
    # depth-1 siblings
    assert out[("A", "B")]["lca"] == "R"


def test_term_lca_tie_breaks_min_id(spark):
    # two common ancestors at the same (maximal) depth: X and Y both
    # at depth 1; min id wins deterministically
    closure = spark.createDataFrame(
        [("u", "u"), ("u", "X"), ("u", "Y"), ("u", "R"),
         ("v", "v"), ("v", "X"), ("v", "Y"), ("v", "R")],
        "subject string, object string",
    )
    depths = spark.createDataFrame(
        [("R", 0), ("X", 1), ("Y", 1), ("u", 2), ("v", 2)],
        "id string, depth int",
    )
    pairs = spark.createDataFrame([("u", "v")], "a string, b string")
    row = term_lca(closure, depths, pairs).collect()[0]
    assert row["lca"] == "X"
    assert row["lca_depth"] == 1


def test_term_lca_broadcast_vs_shuffle_paths_agree(spark, monkeypatch):
    from ontology_loader_spark import partitioning

    pairs = spark.createDataFrame(
        [("C", "D"), ("C", "E"), ("F", "C")], "a string, b string"
    )
    kw = dict(closure=_closure_df(spark), depths=_depths_df(spark), pairs=pairs)
    bc = {tuple(r) for r in term_lca(**kw).collect()}
    monkeypatch.setattr(partitioning, "BROADCAST_ROWS_MAX", 0)
    sh = {tuple(r) for r in term_lca(**kw).collect()}
    assert bc == sh and len(bc) == 3


def test_term_lca_drops_ungrounded_pairs(spark):
    # Z is isolated: reflexive-only closure, no depth row -> the pair
    # must be absent, not null-filled
    closure = _closure_df(spark).union(
        spark.createDataFrame([("Z", "Z")], "subject string, object string")
    )
    pairs = spark.createDataFrame([("Z", "C"), ("C", "D")], "a string, b string")
    out = term_lca(closure, _depths_df(spark), pairs).collect()
    assert {(r["a"], r["b"]) for r in out} == {("C", "D")}


def _ts(day: int, sec: int) -> datetime.datetime:
    return datetime.datetime(2024, 3, day, 0, 0, 0) + datetime.timedelta(
        seconds=sec
    )


def _transcripts_df(spark):
    rows = [
        # conv a: user -> assistant (+5s) -> tool (-3s, ts regression)
        ("a", 0, "user", "hi", None, _ts(1, 10)),
        ("a", 1, "assistant", "hello", None, _ts(1, 15)),
        ("a", 2, "tool", "result", "search_0", _ts(1, 12)),
        # conv b: user -> assistant (+86400s, next day)
        ("b", 0, "user", "q", None, _ts(1, 0)),
        ("b", 1, "assistant", "a", None, _ts(2, 0)),
        # conv c: lone turn -> no transition
        ("c", 0, "user", "solo", None, _ts(1, 0)),
        # conv e: sub-second gap (would be LOST by a second-granularity
        # diff; truncation vs boundary-crossing would also diverge)
        ("e", 0, "user", "fast", None, _ts(4, 0)),
        (
            "e",
            1,
            "assistant",
            "reply",
            None,
            _ts(4, 0) + datetime.timedelta(microseconds=500_000),
        ),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    )


def test_turn_transition_stats(spark):
    out = {
        (r["prev_role"], r["role"]): r
        for r in turn_transition_stats(_transcripts_df(spark)).collect()
    }
    assert set(out) == {("user", "assistant"), ("assistant", "tool")}
    m = 1_000_000  # latency is exact integer microseconds
    ua = out[("user", "assistant")]
    assert ua["n"] == 3
    assert ua["sum_latency_us"] == (5 + 86400) * m + 500_000
    assert ua["min_latency_us"] == 500_000  # sub-second gap kept exactly
    assert ua["max_latency_us"] == 86400 * m
    at = out[("assistant", "tool")]
    # negative latency preserved (event-time regression signal)
    assert (at["n"], at["sum_latency_us"], at["min_latency_us"]) == (
        1,
        -3 * m,
        -3 * m,
    )


def test_tool_usage_profile(spark):
    t = _transcripts_df(spark).union(
        spark.createDataFrame(
            [("d", 2, "tool", "result", "search_0", _ts(3, 0)),
             ("d", 5, "tool", "other", "search_1", _ts(3, 9))],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp_ntz",
        )
    )
    out = {r["tool"]: r for r in tool_usage_profile(t).collect()}
    assert set(out) == {"search_0", "search_1"}
    s0 = out["search_0"]
    assert s0["n_calls"] == 2
    assert s0["n_convs"] == 2
    assert s0["n_distinct_texts"] == 1  # "result" twice -> templated
    assert s0["sum_turn_idx"] == 2 + 2
    assert out["search_1"]["n_calls"] == 1


def test_conversation_entity_profile_hand_case(spark):
    from ontology_loader_spark.pipeline import conversation_entity_profile

    transcripts = spark.createDataFrame(
        [
            ("a", 0, "user", "about widget alpha and widget beta", None,
             _ts(1, 0)),
            ("a", 1, "assistant", "widget alpha again", None, _ts(1, 1)),
            ("b", 0, "user", "only widget gamma here", None, _ts(1, 0)),
            ("c", 0, "user", "no mentions at all", None, _ts(1, 0)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    )
    mention_dict = spark.createDataFrame(
        [("FIX:1", "widget alpha"), ("FIX:2", "widget beta"),
         ("FIX:9", "widget gamma")],
        "id string, name string",
    )
    # FIX:1 -> FIX:0 (root); FIX:2 -> FIX:1; FIX:9 has NO hierarchy
    # edge -> undefined depth
    edges = spark.createDataFrame(
        [("FIX:1", "rdfs:subClassOf", "FIX:0"),
         ("FIX:2", "rdfs:subClassOf", "FIX:1")],
        "subject string, predicate string, object string",
    )
    out = {
        r["conv_id"]: r
        for r in conversation_entity_profile(
            spark, transcripts, mention_dict, edges
        ).collect()
    }
    assert set(out) == {"a", "b"}  # conv c has no mentions -> absent
    a = out["a"]
    assert a["n_mentions"] == 3       # alpha x2 + beta x1
    assert a["n_terms"] == 2
    assert a["n_mention_turns"] == 2
    assert a["max_term_depth"] == 2   # FIX:2 at depth 2
    b = out["b"]
    assert (b["n_mentions"], b["n_terms"]) == (1, 1)
    assert b["max_term_depth"] is None  # FIX:9 ungrounded -> NULL


def test_term_depth_matches_lca_fixture(spark):
    # sanity: term_depth over the hand DAG reproduces _depths_df
    edges = spark.createDataFrame(
        [(s, "rdfs:subClassOf", o) for s, o in _EDGES],
        "subject string, predicate string, object string",
    )
    got = {(r["id"], r["depth"]) for r in term_depth(edges).collect()}
    want = {tuple(r) for r in _depths_df(spark).collect()}
    assert got == want


def _dup_key_corpus(spark):
    """Duplicate (conv_id, turn_idx) keys with DIFFERENT ts: a join-back
    would fan out; the passthrough must keep row-level provenance."""
    transcripts = spark.createDataFrame(
        [
            ("a", 0, "user", "widget alpha here", None, _ts(1, 0)),
            ("a", 0, "user", "widget alpha again", None, _ts(2, 0)),
            ("b", 1, "user", "nothing", None, _ts(1, 0)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    )
    mention_dict = spark.createDataFrame(
        [("FIX:1", "widget alpha")], "id string, name string"
    )
    return transcripts, mention_dict


def test_detect_mentions_extra_cols_matches_base_and_carries_ts(spark):
    from ontology_loader_spark.transcripts.mentions import detect_mentions

    transcripts, mention_dict = _dup_key_corpus(spark)
    base = sorted(
        tuple(r)
        for r in detect_mentions(spark, transcripts, mention_dict).collect()
    )
    with_ts = detect_mentions(
        spark, transcripts, mention_dict, extra_cols=("ts",)
    ).collect()
    assert sorted((r["conv_id"], r["turn_idx"], r["term_id"], r["surface"])
                  for r in with_ts) == base
    assert {r["ts"] for r in with_ts} == {_ts(1, 0), _ts(2, 0)}
    assert len(with_ts) == 2  # one row per PHYSICAL matching turn row


def test_sharded_arm_carries_ts_like_collected_arm(spark):
    """The sharded arm keeps each physical row's own ts, exactly as the
    collected arm does, on duplicate turn keys."""
    from ontology_loader_spark.transcripts.mentions import (
        _detect_mentions_sharded,
        detect_mentions,
    )

    transcripts, mention_dict = _dup_key_corpus(spark)
    collected = sorted(map(tuple, detect_mentions(
        spark, transcripts, mention_dict, ("ts",)).collect()))
    for n_shards, n_salt in ((1, 1), (4, 4), (3, 2)):
        sharded = sorted(map(tuple, _detect_mentions_sharded(
            transcripts, mention_dict, ("ts",), n_shards=n_shards,
            n_salt=n_salt).collect()))
        assert sharded == collected
    assert len(collected) == 2


def test_detect_mentions_dispatches_past_ceiling(spark, monkeypatch):
    """A dictionary larger than the broadcast ceiling goes to the
    sharded arm and returns the collected arm's rows."""
    from ontology_loader_spark import partitioning
    from ontology_loader_spark.transcripts import mentions

    transcripts, _ = _dup_key_corpus(spark)
    md = spark.createDataFrame(
        [("FIX:1", "widget alpha"), ("FIX:2", "alpha"), ("FIX:3", "nothing")],
        "id string, name string",
    )
    collected = sorted(map(tuple, mentions.detect_mentions(
        spark, transcripts, md, ("ts",)).collect()))
    calls = []
    sharded_arm = mentions._detect_mentions_sharded
    monkeypatch.setattr(partitioning, "BROADCAST_ROWS_MAX", 2)
    monkeypatch.setattr(mentions, "_detect_mentions_sharded",
                        lambda *a, **k: calls.append(a) or sharded_arm(*a, **k))
    got = sorted(map(tuple, mentions.detect_mentions(
        spark, transcripts, md, ("ts",)).collect()))
    assert len(calls) == 1
    assert got == collected
    assert len(got) == 5


def test_top1_links_extra_cols_picks_same_link(spark):
    from ontology_loader_spark.transcripts.mentions import (
        detect_mentions,
        top1_links,
    )

    transcripts, _ = _dup_key_corpus(spark)
    md = spark.createDataFrame(
        [("FIX:1", "widget alpha"), ("FIX:2", "alpha"), ("FIX:0", "widget")],
        "id string, name string",
    )
    m = detect_mentions(spark, transcripts, md, ("ts",))
    key = ("conv_id", "turn_idx", "term_id", "surface")
    plain = sorted(tuple(r) for r in top1_links(m).collect())
    with_ts = top1_links(m, ("ts",)).collect()
    assert sorted(tuple(r[c] for c in key) for r in with_ts) == plain
    # duplicate key (a, 0): the carried ts is the smallest of the tied rows
    assert [r["ts"] for r in with_ts] == [_ts(1, 0)]


def test_mention_timeline_hand_case(spark):
    from ontology_loader_spark.transcripts.mentions import mention_timeline

    transcripts = spark.createDataFrame(
        [
            ("a", 0, "user", "widget alpha", None, _ts(1, 5)),
            ("a", 1, "user", "widget alpha", None, _ts(2, 5)),
            ("b", 0, "user", "widget alpha", None, _ts(2, 9)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    )
    mention_dict = spark.createDataFrame(
        [("FIX:1", "widget alpha")], "id string, name string"
    )
    out = {
        (r["term_id"], r["day"]): (r["n_mentions"], r["n_convs"])
        for r in mention_timeline(spark, transcripts, mention_dict).collect()
    }
    assert out == {
        ("FIX:1", "2024-03-01"): (1, 1),
        ("FIX:1", "2024-03-02"): (2, 2),
    }


def test_conversation_dedup_sees_relogged_conversation(spark):
    from ontology_loader_spark.operators.dedup import minhash_candidate_pairs
    from ontology_loader_spark.transcripts.ordering import reassembled
    from pyspark.sql import functions as SF

    base = [
        ("c1", i, "user", f"the quick brown fox jumps over lazy dog {i}",
         None, _ts(1, i))
        for i in range(6)
    ]
    relog = [("c2", i, r, t, tool, ts) for (_, i, r, t, tool, ts) in base]
    other = [
        ("c3", i, "user", f"completely different content entirely {i} xyzzy",
         None, _ts(1, i))
        for i in range(6)
    ]
    t = spark.createDataFrame(
        base + relog + other,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    )
    conv_docs = reassembled(t).select(
        SF.col("conv_id").alias("doc_id"), SF.col("conv_text").alias("text")
    )
    pairs = {(r["a"], r["b"]) for r in minhash_candidate_pairs(conv_docs).collect()}
    assert ("c1", "c2") in pairs
    assert ("c1", "c3") not in pairs and ("c2", "c3") not in pairs


import random

import pytest


def _py_lca_oracle(nodes, edges, pairs):
    """Brute-force LCA ground truth: reflexive ancestor sets via DFS,
    depth = min root distance via BFS from roots, LCA = max-depth
    common ancestor with min-id tie break, Wu-Palmer ppm integer."""
    adj = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
    anc = {}
    for v in nodes:
        seen, stack = {v}, [v]
        while stack:
            cur = stack.pop()
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        anc[v] = seen
    subjects = set(adj)
    objects = {o for os in adj.values() for o in os}
    roots = objects - subjects
    depth, frontier, d = {}, set(roots), 0
    radj = {}
    for s, os in adj.items():
        for o in os:
            radj.setdefault(o, set()).add(s)
    while frontier:
        for v in frontier:
            depth.setdefault(v, d)
        frontier = {
            c for v in frontier for c in radj.get(v, ()) if c not in depth
        }
        d += 1
    out = {}
    for a, b in pairs:
        commons = [
            (depth[x], x) for x in anc.get(a, ()) & anc.get(b, ())
            if x in depth
        ]
        if not commons or a not in depth or b not in depth:
            continue
        dmax = max(c[0] for c in commons)
        lca = min(x for dd, x in commons if dd == dmax)
        da, db = depth[a], depth[b]
        wup = 1_000_000 if da + db == 0 else (2 * dmax * 1_000_000) // (da + db)
        out[(a, b)] = (lca, dmax, da, db, wup)
    return out


@pytest.mark.parametrize("seed,n,extra", [(11, 40, 20), (12, 60, 45)])
def test_term_lca_random_dag_matches_bruteforce(spark, seed, n, extra):
    rng = random.Random(seed)
    edges = [(f"N{i}", f"N{rng.randrange(i)}") for i in range(1, n)]
    for _ in range(extra):
        i = rng.randrange(2, n)
        edges.append((f"N{i}", f"N{rng.randrange(i)}"))
    edges = sorted(set(edges))
    nodes = [f"N{i}" for i in range(n)]
    pairs = [
        (f"N{rng.randrange(n)}", f"N{rng.randrange(n)}") for _ in range(25)
    ]
    pairs = [(a, b) for a, b in dict.fromkeys(pairs) if a != b]

    want = _py_lca_oracle(nodes, edges, pairs)

    anc_rows = []
    adj = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
    for v in nodes:
        seen, stack = {v}, [v]
        while stack:
            cur = stack.pop()
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        anc_rows += [(v, x) for x in seen]
    closure = spark.createDataFrame(anc_rows, "subject string, object string")
    edge_df = spark.createDataFrame(
        [(s, "rdfs:subClassOf", o) for s, o in edges],
        "subject string, predicate string, object string",
    )
    depths = term_depth(edge_df)
    pair_df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r["a"], r["b"]): (r["lca"], r["lca_depth"], r["depth_a"],
                           r["depth_b"], r["wup_ppm"])
        for r in term_lca(closure, depths, pair_df).collect()
    }
    assert got == want


def test_turn_context_windows_hand_case(spark):
    from ontology_loader_spark.transcripts.dialogue import (
        turn_context_windows,
    )

    out = {
        (r["conv_id"], r["turn_idx"]): r["context_text"]
        for r in turn_context_windows(_transcripts_df(spark)).collect()
    }
    # conversation starts carry shorter contexts (NULL lags skipped)
    assert out[("a", 0)] == "hi"
    assert out[("a", 1)] == "hi\nhello"
    assert out[("a", 2)] == "hi\nhello\nresult"
    assert out[("b", 1)] == "q\na"
    assert out[("c", 0)] == "solo"


def test_term_ancestor_jaccard_hand_dag(spark):
    from ontology_loader_spark.operators.graph import term_ancestor_jaccard

    pairs = spark.createDataFrame(
        [("C", "D"), ("C", "E"), ("F", "C")], "a string, b string"
    )
    out = {
        (r["a"], r["b"]): r
        for r in term_ancestor_jaccard(_closure_df(spark), pairs).collect()
    }
    # anc(C)={C,A,R}, anc(D)={D,A,R}: inter 2, union 4
    cd = out[("C", "D")]
    assert (cd["n_inter"], cd["n_a"], cd["n_b"]) == (2, 3, 3)
    assert cd["jaccard_ppm"] == (2 * 1_000_000) // 4
    # anc(C)={C,A,R}, anc(E)={E,B,R}: inter 1 (root), union 5
    assert out[("C", "E")]["jaccard_ppm"] == 1_000_000 // 5
    # anc(F)={F,C,A,R} contains anc(C): inter 3, union 4
    fc = out[("F", "C")]
    assert (fc["n_inter"], fc["jaccard_ppm"]) == (3, (3 * 1_000_000) // 4)
