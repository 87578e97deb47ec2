"""Exact-integer PageRank: hub attracts rank, determinism across
partitionings, and integral arithmetic invariants."""

from ontology_loader_spark.operators.graph import SCALE, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, "rdfs:subClassOf", o) for s, o in pairs],
        "subject string, predicate string, object string",
    )


def test_pagerank_hub_and_determinism(spark):
    # leaves l0..l5 -> hub; hub -> root
    pairs = [(f"l{i}", "hub") for i in range(6)] + [("hub", "root")]
    e = _edges(spark, pairs)
    ranks = {r["node"]: r["rank"] for r in pagerank(e).collect()}
    leaves = [ranks[f"l{i}"] for i in range(6)]
    assert len(set(leaves)) == 1                 # symmetric leaves tie
    assert ranks["hub"] > max(leaves)            # hub collects leaf mass
    assert ranks["root"] > max(leaves)           # fed by the hub
    # every rank >= teleport base, and bounded by total mass
    n = len(ranks)
    base = (SCALE * 15) // (100 * n)
    assert all(v >= base for v in ranks.values())
    assert sum(ranks.values()) <= SCALE + n      # damping keeps mass bounded

    r32 = {r["node"]: r["rank"]
           for r in pagerank(e.repartition(32)).collect()}
    assert r32 == ranks                          # exact integers: no drift


def test_pagerank_ignores_non_hierarchy_predicates(spark):
    import pyspark.sql.functions as F

    e = _edges(spark, [("a", "b")]).unionByName(
        spark.createDataFrame([("x", "relatedTo", "y")],
                              "subject string, predicate string, object string"))
    nodes = {r["node"] for r in pagerank(e).collect()}
    assert nodes == {"a", "b"}
    del F


# ------------------------------------------------------ triangle count


def test_triangle_counts_known_graph(spark):
    """Docs engineered so the ≥62%-codoc graph is exactly the triangle
    {a,b,c}: a/b/c co-occur in 4 of 5 docs, d only once with a."""
    from ontology_loader_spark.operators.graph import triangle_counts

    rows = [(i, "a b c") for i in range(4)] + [(4, "a d")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["node"]: r["triangles"] for r in triangle_counts(docs).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_hub_graph_and_invariant(spark):
    """A hub token co-occurring with everything: per-node counts stay
    correct under the degree-ordered orientation, and the per-node sum
    is 3x the number of distinct triangles (each triangle touches 3
    nodes exactly once)."""
    from ontology_loader_spark.operators.graph import (
        token_cooccurrence_edges,
        triangle_counts,
    )

    # 5 docs, edge iff codoc >= 62% (i.e. >= 4 docs): h-q in all 5;
    # h-p, h-r, p-q, q-r in 4; p-r only in 3 -> excluded
    rows = [
        (0, "h p q"), (1, "h p q r"), (2, "h p q r"), (3, "h q r"),
        (4, "h p q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # h-p, h-q, h-r, p-q, q-r all >= 62% of 5 docs; p-r only 1/5
    edges = {
        (r["u"], r["v"]) for r in token_cooccurrence_edges(docs).collect()
    }
    assert edges == {("h", "p"), ("h", "q"), ("h", "r"), ("p", "q"), ("q", "r")}
    got = {r["node"]: r["triangles"] for r in triangle_counts(docs).collect()}
    # triangles: {h,p,q} and {h,q,r}
    assert got == {"h": 2, "q": 2, "p": 1, "r": 1}
    assert sum(got.values()) % 3 == 0


def test_triangle_counts_partitioning_invariant(spark):
    from ontology_loader_spark.operators.graph import triangle_counts

    rows = [(i, "a b c") for i in range(4)] + [(4, "a d")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = sorted(map(tuple, triangle_counts(docs.coalesce(1)).collect()))
    many = sorted(map(tuple, triangle_counts(docs.repartition(7)).collect()))
    assert one == many


# --- term_depth (graph.py) -------------------------------------------------


def test_term_depth_min_over_parents_and_cycle_exclusion(spark):
    from ontology_loader_spark.operators.graph import term_depth

    ed = spark.createDataFrame(
        [
            # r is the root; a at 1; b has parents a (depth 2 path) and
            # r (depth 1 path) -> min wins
            ("a", "rdfs:subClassOf", "r"),
            ("b", "rdfs:subClassOf", "a"),
            ("b", "BFO:0000050", "r"),
            ("c", "rdfs:subClassOf", "b"),
            # a detached 2-cycle: no root path -> absent from output
            ("p", "rdfs:subClassOf", "q"),
            ("q", "rdfs:subClassOf", "p"),
            # non-hierarchy edge: ignored entirely
            ("z", "rdfs:seeAlso", "r"),
        ],
        ["subject", "predicate", "object"],
    )
    got = {r["id"]: r["depth"] for r in term_depth(ed).collect()}
    assert got == {"r": 0, "a": 1, "b": 1, "c": 2}


def test_term_depth_long_chain_returns_every_depth(spark):
    from ontology_loader_spark.operators.graph import term_depth

    # n70 -> ... -> n0: 70 hops, deeper than any fixed round cap
    ed = _edges(spark, [(f"n{i + 1}", f"n{i}") for i in range(70)])
    got = {r["id"]: r["depth"] for r in term_depth(ed).collect()}
    assert got == {f"n{i}": i for i in range(71)}
