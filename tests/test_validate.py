"""KG structural validation (operators/validate.py): dangling-edge
shape sensitivity and exact cycle membership — including the
path-between-two-cycles core where trimming alone over-approximates
and the exact phase must prune."""


def _edges(spark, rows):
    return spark.createDataFrame(
        [(s, p, o) for s, p, o in rows], ["subject", "predicate", "object"]
    )


def test_dangling_edges_exact_string_match(spark):
    from ontology_loader_spark.operators.validate import dangling_edges

    td = spark.createDataFrame(
        [("FIX:1",), ("Fix:2",), ("FIXNOCOLON3",)], ["id"]
    )
    ed = _edges(
        spark,
        [
            ("FIX:5", "rdfs:subClassOf", "FIX:1"),   # defined
            ("FIX:5", "rdfs:subClassOf", "FIX:2"),   # shape-variant -> dangles
            ("FIX:5", "BFO:0000050", "FIX:3"),       # nocolon shape -> dangles
            ("FIX:5", "rdfs:seeAlso", "FIX:999"),    # non-hierarchy: ignored
        ],
    )
    got = {r["object"] for r in dangling_edges(ed, td).collect()}
    assert got == {"FIX:2", "FIX:3"}


def test_cycle_members_dag_is_empty(spark):
    from ontology_loader_spark.operators.validate import cycle_members

    ed = _edges(
        spark,
        [("a", "rdfs:subClassOf", "b"), ("b", "rdfs:subClassOf", "c")],
    )
    assert cycle_members(ed).count() == 0


def test_cycle_members_triangle_and_self_loop(spark):
    from ontology_loader_spark.operators.validate import cycle_members

    ed = _edges(
        spark,
        [
            ("a", "rdfs:subClassOf", "b"),
            ("b", "BFO:0000050", "c"),
            ("c", "rdfs:subClassOf", "a"),
            ("d", "rdfs:subClassOf", "d"),   # 1-cycle
            ("e", "rdfs:subClassOf", "a"),   # reaches the cycle, not on it
            ("a", "rdfs:seeAlso", "z"),      # non-hierarchy: no edge
        ],
    )
    got = {r["id"] for r in cycle_members(ed).collect()}
    assert got == {"a", "b", "c", "d"}


def test_cycle_members_excludes_inter_cycle_path(spark):
    """x sits on a path between two 2-cycles: it survives the trim
    (in-degree and out-degree stay positive in the core) but reaches
    itself through no path — only the exact phase can rule it out."""
    from ontology_loader_spark.operators.validate import (
        _trim_to_cycle_core,
        cycle_members,
        hierarchy_pairs,
    )

    rows = [
        ("a", "rdfs:subClassOf", "b"),
        ("b", "rdfs:subClassOf", "a"),
        ("b", "rdfs:subClassOf", "x"),
        ("x", "rdfs:subClassOf", "c"),
        ("c", "rdfs:subClassOf", "d"),
        ("d", "rdfs:subClassOf", "c"),
    ]
    ed = _edges(spark, rows)
    core = _trim_to_cycle_core(*hierarchy_pairs(ed))
    core_nodes = {
        r[0]
        for r in core.selectExpr("subject").union(core.selectExpr("object")).collect()
    }
    assert "x" in core_nodes  # trim alone keeps the connector
    got = {r["id"] for r in cycle_members(ed).collect()}
    assert got == {"a", "b", "c", "d"}  # exact phase prunes it


def test_cycle_members_long_cycle_raises_or_returns_all(spark):
    """A 70-node cycle, longer than any fixed round cap, returns every
    member, never a partial set."""
    from ontology_loader_spark.operators.validate import cycle_members

    def ring(n):
        return _edges(spark, [(f"n{i}", "rdfs:subClassOf", f"n{(i + 1) % n}")
                              for i in range(n)])

    assert {r["id"] for r in cycle_members(ring(70)).collect()} == {
        f"n{i}" for i in range(70)
    }
