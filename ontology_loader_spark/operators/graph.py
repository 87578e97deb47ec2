"""Graph-centrality materialization over the ontology hierarchy —
an exact-integer PageRank whose every iteration is reproducible
bit-for-bit by an unrolled SQL oracle.

A KG pipeline uses centrality to rank terms for linking priors and
dictionary pruning (hub terms like upper-ontology roots dominate both
closure and mention traffic — the same hubs the salted aggregations
exist for). The reference has no such operator; this is a §2.3-style
addition (SURVEY.md), built Spark-first.

Determinism design (the same discipline as the IVF trainer,
``similarity.py``): a float PageRank sums double contributions whose
accumulation order differs between engines and runs. Here every
quantity is a non-negative integer:

- ranks are scaled to ``SCALE`` (1e12) integer units;
- per-edge contribution = ``rank div outdegree`` (integral division —
  identical truncation in Spark ``div`` and DuckDB ``//`` for
  non-negative operands);
- damping = ``(sum * 85) div 100`` (no float multiply; products stay
  far under int64);
- the teleport base = ``(SCALE * 15) div (100 * n)``.

Integer sums are associative, so map-side combine / shuffle order
cannot change results, and a fixed iteration count unrolls into
chained SQL CTEs. Dangling mass (nodes without out-edges) is dropped
— the standard simplified variant; with damping the totals stay
bounded. Each iteration is one join + one map-side-combinable groupBy
keyed on the destination node; hub skew on destinations is additive
(a sum), the AQE-friendly case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import BORN, pin_count, semi_naive_fixpoint
from ontology_loader_spark.operators.closure import hierarchy_pairs
from ontology_loader_spark.partitioning import fits, join_side, pin_fits
from ontology_loader_spark.schemas import DEFAULT_PREDICATES

SCALE = 10 ** 12
DAMP_NUM = 85   # d = 0.85 as an exact rational
DAMP_DEN = 100
PR_ITERS = 3


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """Exact-integer PageRank over the predicate-filtered hierarchy
    edge graph. Node domain = every edge endpoint. Output
    (node, rank) with rank in SCALE-units; ranks at iteration
    ``iters`` equal the unrolled SQL oracle value-for-value."""
    e, _ = hierarchy_pairs(edges, predicates)
    nodes, n = pin_count(
        e.select(F.col("subject").alias("node"))
        .unionByName(e.select(F.col("object").alias("node")))
        .distinct()
    )
    base = (SCALE * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    deg = e.groupBy("subject").agg(F.count("*").alias("deg"))

    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("rank"))
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "subject"), "subject")
            .join(F.broadcast(deg), "subject")
            .select(
                F.col("object").alias("node"),
                F.expr("rank div deg").cast("long").alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .na.fill({"s": 0})
            .select(
                "node",
                (F.lit(base) + F.expr(f"(s * {DAMP_NUM}) div {DAMP_DEN}"))
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_sql(iters: int = PR_ITERS) -> str:
    """Unrolled-iteration oracle over the shared ``hedges`` CTE
    (fixed iteration count — no recursion needed; every arithmetic
    step is the integral-division twin of the Spark expression)."""
    from ontology_loader_spark.inputs.derive import TERM_DICT_CTE, EDGES_CTE
    from ontology_loader_spark.oracle import HEDGES_CTE

    ctes = [
        TERM_DICT_CTE.strip(),
        EDGES_CTE.strip(),
        HEDGES_CTE.strip(),
        """pr_nodes AS (
  SELECT subject AS node FROM hedges
  UNION
  SELECT object AS node FROM hedges
)""",
        "pr_params AS (SELECT COUNT(*) AS n FROM pr_nodes)",
        "pr_deg AS (SELECT subject, COUNT(*) AS deg FROM hedges GROUP BY subject)",
        f"""pr_r0 AS (
  SELECT node, CAST({SCALE} // n AS BIGINT) AS rank
  FROM pr_nodes, pr_params
)""",
    ]
    for i in range(iters):
        prev, cur = f"pr_r{i}", f"pr_r{i + 1}"
        ctes.append(f"""
pr_c{i} AS (
  SELECT e.object AS node, SUM(r.rank // d.deg) AS s
  FROM hedges e
  JOIN {prev} r ON r.node = e.subject
  JOIN pr_deg d ON d.subject = e.subject
  GROUP BY e.object
)""")
        ctes.append(f"""
{cur} AS (
  SELECT n.node,
    CAST(({SCALE} * {DAMP_DEN - DAMP_NUM}) // ({DAMP_DEN} * p.n)
         + (COALESCE(c.s, 0) * {DAMP_NUM}) // {DAMP_DEN} AS BIGINT) AS rank
  FROM pr_nodes n
  LEFT JOIN pr_c{i} c ON c.node = n.node
  CROSS JOIN pr_params p
)""")
    return (
        "WITH " + ",\n".join(c.strip() for c in ctes)
        + f"\nSELECT node, rank FROM pr_r{iters}"
    )


# ------------------------------------------------------ triangle count

# a token pair is a co-occurrence edge when it appears together in at
# least this percentage of documents — a RELATIVE threshold, so the
# graph definition is scale-invariant (an absolute co-doc count would
# densify as the corpus grows)
CODOC_PCT = 62


def token_cooccurrence_edges(documents: DataFrame, codoc_pct: int = CODOC_PCT) -> DataFrame:
    """Undirected token co-occurrence graph: (u, v) with u < v iff the
    two tokens appear together in ≥ ``codoc_pct``% of documents.

    The pair generation self-joins the distinct (doc, token) relation
    on doc_id — fan-out is per-doc-vocabulary², the same cost every
    co-occurrence/PMI pipeline pays, and the groupBy on (u, v) is
    map-side combinable. The threshold compare is integer
    (codoc*100 ≥ pct*n) so the SQL oracle is bit-identical."""
    from ontology_loader_spark.operators.dedup import doc_tokens

    toks = doc_tokens(documents).distinct().localCheckpoint(eager=True)
    n_docs = toks.select("doc_id").distinct().count()
    ta = toks.select(F.col("doc_id").alias("d"), F.col("tok").alias("u"))
    tb = toks.select(F.col("doc_id").alias("d"), F.col("tok").alias("v"))
    return (
        # hash, not sort-merge: the pair explosion is consumed by an
        # unordered groupBy — per-doc sorted order is worthless
        ta.join(tb.hint("shuffle_hash"), "d")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("codoc"))
        .filter(F.col("codoc") * 100 >= codoc_pct * n_docs)
        .select("u", "v")
    )


def triangle_counts(documents: DataFrame, codoc_pct: int = CODOC_PCT) -> DataFrame:
    """Per-node triangle counts over the token co-occurrence graph —
    the local clustering signal a phrase-mining / topic pipeline reads
    off the word graph. Output (node, triangles), one row per edge
    endpoint, zero-filled.

    Scale design — degree-ordered orientation (the standard
    distributed triangle algorithm): each undirected edge is directed
    from its lower-(degree, name) endpoint to the higher, so every
    triangle is produced by exactly one wedge a→b→c (total order ⇒ no
    double counting) and the wedge fan-out per node is its
    OUT-degree², bounded by O(√m) on any graph — hubs (stopword-like
    tokens with huge undirected degree) get mostly IN-edges and
    generate no wedge blow-up. The degree table is vocabulary-sized →
    broadcast; the wedge-closing join is a hash equi-join on the
    (a, c) edge key. Everything is codegen'd Catalyst — no UDFs."""
    und = token_cooccurrence_edges(documents, codoc_pct).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        und.join(F.broadcast(deg.withColumnRenamed("node", "u")
                             .withColumnRenamed("deg", "du")), "u")
        .join(F.broadcast(deg.withColumnRenamed("node", "v")
                          .withColumnRenamed("deg", "dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=True)
    # shuffle_hash hints: the edge relation is graph-sized, so Catalyst
    # would default to sort-merge — but neither wedge building nor the
    # closing semi-join benefits from sorted output, and hashing skips
    # the per-partition sorts (same policy as the range-join probe)
    wedges = (
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(
            oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
            .hint("shuffle_hash"),
            "b",
        )
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        .hint("shuffle_hash"),
        ["a", "c"],
        "left_semi",
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select("node")
        .join(per_node.hint("shuffle_hash"), "node", "left")
        .na.fill({"triangles": 0})
        .select("node", F.col("triangles").cast("long").alias("triangles"))
    )


def triangle_counts_sql(codoc_pct: int = CODOC_PCT) -> str:
    from ontology_loader_spark.operators.dedup import DOC_TOKENS_CTE

    return (
        "WITH " + DOC_TOKENS_CTE.strip() + f""",
toks AS (SELECT DISTINCT doc_id, tok FROM doc_tokens),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
und AS (
  SELECT a.tok AS u, b.tok AS v
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
  HAVING COUNT(*) * 100 >= {codoc_pct} * (SELECT n FROM nd)
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
oriented AS (
  SELECT
    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         THEN e.u ELSE e.v END AS src,
    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         THEN e.v ELSE e.u END AS dst
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM oriented w1
  JOIN oriented w2 ON w2.src = w1.dst
  WHERE EXISTS (
    SELECT 1 FROM oriented o WHERE o.src = w1.src AND o.dst = w2.dst
  )
),
per_node AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node AS node, CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles
FROM deg d LEFT JOIN per_node p ON p.node = d.node"""
    )


def term_depth(
    edges: DataFrame,
    predicates: tuple[str, ...] = DEFAULT_PREDICATES,
) -> DataFrame:
    """Shortest hierarchy distance from each node to a root: ``(id,
    depth)`` with depth(root) = 0 and depth(x) = 1 + min over parents.

    The semantic complement of the ancestor closure (which answers
    "which ancestors" — this answers "how far"): rollup level
    selection, depth-capped traversals, and depth-bucketed sampling
    all key on it. BFS from the roots on the shared semi-naive
    fixpoint: each round steps from the nodes settled in the last one
    to their children, and a node is settled in the FIRST (minimal)
    round that reaches it, which is the fixpoint's ``born``. The
    distinct edge count picks the edge join's side (``partitioning.py``'s
    rule) and bounds the rounds at itself plus one: a shortest path uses
    each edge at most once.

    Assumes the hierarchy is acyclic — run ``validate.cycle_members``
    first; a cycle's nodes have no root path, never enter the frontier,
    and are simply absent from the output (both engines agree).
    """
    hedges, n = hierarchy_pairs(edges, predicates)
    # roots: nodes that never appear as a child (no outgoing hierarchy
    # edge) — in the child->parent orientation, objects minus subjects
    roots = hedges.select(F.col("object").alias("id")).join(
        hedges.select(F.col("subject").alias("id")), "id", "left_anti"
    )
    side = join_side(hedges, fits("term_depth", n))
    settled = semi_naive_fixpoint(
        roots,
        lambda f: f.join(side, f["id"] == hedges["object"]).select(
            hedges["subject"].alias("id")
        ),
        ["id"],
        max_iterations=n + 1,
        op_name="term_depth",
    )
    return settled.withColumnRenamed(BORN, "depth")


def term_depth_sql(predicates_sql: str) -> str:
    """DuckDB oracle twin: recursive distance enumeration (the UNION
    dedups (id, d) pairs, terminating on a DAG), minimized per id."""
    return f"""
hedges_d AS (
  SELECT DISTINCT subject, object FROM edges
  WHERE predicate IN {predicates_sql}
),
roots AS (
  SELECT DISTINCT object AS id FROM hedges_d
  WHERE object NOT IN (SELECT subject FROM hedges_d)
),
walk(id, d) AS (
  SELECT id, 0 FROM roots
  UNION
  SELECT e.subject, w.d + 1 FROM walk w
  JOIN hedges_d e ON e.object = w.id
),
depths AS (
  SELECT id, CAST(MIN(d) AS INTEGER) AS depth FROM walk GROUP BY id
)"""


# ---------------------------------------------------------------- LCA

LCA_WUP_SCALE = 1_000_000


def term_lca(
    closure: DataFrame,
    depths: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Lowest common ancestor + Wu-Palmer-style similarity for a set of
    term pairs: ``(a, b, lca, lca_depth, depth_a, depth_b, wup_ppm)``.

    Semantics: candidates = ancestors shared by ``a`` and ``b`` under
    the REFLEXIVE closure (a term is its own ancestor, so nested pairs
    resolve to the deeper term); the LCA is the candidate with maximal
    root distance (``term_depth``), ties broken by MIN ancestor id;
    ``wup_ppm = (2 * depth(lca) * 1e6) div (depth(a) + depth(b))`` in
    exact integer parts-per-million — multi-root DAG form of Wu &
    Palmer (1994), float-free so both engines agree bit-for-bit. Pairs
    where either side has no depth-grounded common ancestor (isolated
    or cycle-trapped nodes) are absent from the output.

    Scale shape: the closure is |terms| x depth pairs (corpus of
    ancestor sets); the pair set and the depth table are
    dictionary-scale. Each is pinned, measured and joined by the one
    join-side rule (``partitioning.py``): broadcast up to
    ``BROADCAST_ROWS_MAX`` rows, above it shuffle-hash on a
    bounded-fanout key (per-term ancestor count <= DAG height). The
    common-ancestor intersection joins on (a, b, anc) with fanout 1,
    and the argmax is two map-side-combinable aggregations (max depth,
    then min id at that depth) — no window over corpus rows anywhere.

    Reference parity: no analog (the reference materializes closures
    but never queries them, SURVEY.md §2.3 extension); the closure
    input is the gate-verified ``ancestor_closure`` output.
    """
    # the ancestor relation is traversed twice (a-side and b-side);
    # pin it so an unpinned (e.g. freshly-iterated closure) input is
    # materialized once, not once per traversal
    anc = closure.select(
        "subject", F.col("object").alias("anc")
    ).localCheckpoint(eager=True)
    p, bc_p = pin_fits(pairs.select("a", "b"), "term_lca pairs")
    dd, bc_dd = pin_fits(
        depths.select(F.col("id").alias("anc"), F.col("depth").alias("adepth")),
        "term_lca depths",
    )

    la = (
        anc.alias("c")
        .join(join_side(p, bc_p).alias("p"),
              F.col("c.subject") == F.col("p.a"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                F.col("c.anc").alias("anc"))
    )
    lb = (
        anc.alias("c")
        .join(join_side(p, bc_p).alias("p"),
              F.col("c.subject") == F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                F.col("c.anc").alias("anc"))
    )
    common = (
        la.alias("x")
        .join(
            lb.hint("shuffle_hash").alias("y"),
            (F.col("x.a") == F.col("y.a"))
            & (F.col("x.b") == F.col("y.b"))
            & (F.col("x.anc") == F.col("y.anc")),
        )
        .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"),
                F.col("x.anc").alias("anc"))
    )
    commond = common.join(join_side(dd, bc_dd), "anc").select(
        "a", "b", "anc", "adepth"
    )
    dmax = commond.groupBy("a", "b").agg(F.max("adepth").alias("lca_depth"))
    at_max = (
        commond.alias("c")
        .join(
            dmax.hint("shuffle_hash").alias("m"),
            (F.col("c.a") == F.col("m.a"))
            & (F.col("c.b") == F.col("m.b"))
            & (F.col("c.adepth") == F.col("m.lca_depth")),
        )
        .groupBy(F.col("c.a").alias("a"), F.col("c.b").alias("b"),
                 F.col("m.lca_depth").alias("lca_depth"))
        .agg(F.min(F.col("c.anc")).alias("lca"))
    )
    da = dd.select(F.col("anc").alias("a"), F.col("adepth").alias("depth_a"))
    db = dd.select(F.col("anc").alias("b"), F.col("adepth").alias("depth_b"))
    out = (
        at_max.join(join_side(da, bc_dd), "a")
        .join(join_side(db, bc_dd), "b")
    )
    wup = F.when(
        F.col("depth_a") + F.col("depth_b") == 0,
        F.lit(LCA_WUP_SCALE).cast("bigint"),
    ).otherwise(
        F.expr(
            f"(2 * CAST(lca_depth AS BIGINT) * {LCA_WUP_SCALE})"
            " DIV (CAST(depth_a AS BIGINT) + CAST(depth_b AS BIGINT))"
        )
    )
    return out.select(
        "a", "b", "lca",
        F.col("lca_depth").cast("int").alias("lca_depth"),
        F.col("depth_a").cast("int").alias("depth_a"),
        F.col("depth_b").cast("int").alias("depth_b"),
        wup.cast("bigint").alias("wup_ppm"),
    )


def term_lca_sql(f1_anc_sql: str) -> str:
    """DuckDB oracle twin for :func:`term_lca` over the derive CTEs:
    expects ``reach`` (reflexive closure), ``lca_pairs``, and the
    ``depths`` CTE from :func:`term_depth_sql` upstream;
    ``f1_anc_sql`` is the CURIE-validity predicate applied to the
    emitted ancestor (mirroring ``ancestor_closure``'s F1 filter)."""
    return f"""
ancd AS (
  SELECT r.s AS subject, r.o AS anc, d.depth AS adepth
  FROM reach r JOIN depths d ON d.id = r.o
  WHERE {f1_anc_sql}
),
lca_common AS (
  SELECT p.a, p.b, la.anc, la.adepth
  FROM lca_pairs p
  JOIN ancd la ON la.subject = p.a
  JOIN ancd lb ON lb.subject = p.b AND lb.anc = la.anc
),
lca_dmax AS (
  SELECT a, b, MAX(adepth) AS lca_depth FROM lca_common GROUP BY a, b
),
lca_pick AS (
  SELECT c.a, c.b, m.lca_depth, MIN(c.anc) AS lca
  FROM lca_common c
  JOIN lca_dmax m ON m.a = c.a AND m.b = c.b AND c.adepth = m.lca_depth
  GROUP BY c.a, c.b, m.lca_depth
)"""


def term_ancestor_jaccard(
    closure: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Ancestor-set Jaccard similarity for term pairs:
    ``(a, b, n_inter, n_a, n_b, jaccard_ppm)`` with
    ``jaccard_ppm = |anc(a) ∩ anc(b)| * 1e6 div |anc(a) ∪ anc(b)|``
    over the REFLEXIVE ancestor sets — the structural-overlap
    complement of :func:`term_lca`'s depth-based Wu-Palmer (two terms
    deep in one subtree score high here even when their LCA is
    mid-depth). Exact integers throughout; pairs with a side absent
    from the closure domain are dropped (inner size joins), pairs with
    disjoint sets keep 0.

    Scale shape: identical to :func:`term_lca` — bounded-fanout joins
    of the (pinned) ancestor relation against the measured pair side,
    then map-side-combinable counts keyed (a, b); set sizes are one
    groupBy(subject) over the closure. No windows, no driver state.
    """
    anc = closure.select(
        "subject", F.col("object").alias("anc")
    ).localCheckpoint(eager=True)
    p, bc_p = pin_fits(pairs.select("a", "b"), "term_ancestor_jaccard")

    la = (
        anc.alias("c")
        .join(join_side(p, bc_p).alias("p"),
              F.col("c.subject") == F.col("p.a"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                F.col("c.anc").alias("anc"))
    )
    lb = (
        anc.alias("c")
        .join(join_side(p, bc_p).alias("p"),
              F.col("c.subject") == F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                F.col("c.anc").alias("anc"))
    )
    inter = (
        la.alias("x")
        .join(
            lb.hint("shuffle_hash").alias("y"),
            (F.col("x.a") == F.col("y.a"))
            & (F.col("x.b") == F.col("y.b"))
            & (F.col("x.anc") == F.col("y.anc")),
        )
        .groupBy(F.col("x.a").alias("a"), F.col("x.b").alias("b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = anc.groupBy("subject").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("subject").alias("a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("subject").alias("b"), F.col("n").alias("n_b"))
    out = (
        p.join(sa.hint("shuffle_hash"), "a")
        .join(sb.hint("shuffle_hash"), "b")
        .join(inter.hint("shuffle_hash"), ["a", "b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
    )
    jac = F.expr(
        f"(CAST(n_inter AS BIGINT) * {LCA_WUP_SCALE})"
        " DIV (CAST(n_a AS BIGINT) + CAST(n_b AS BIGINT)"
        " - CAST(n_inter AS BIGINT))"
    )
    return out.select(
        "a", "b",
        F.col("n_inter").cast("bigint").alias("n_inter"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        jac.cast("bigint").alias("jaccard_ppm"),
    )


# ---------------------------------------------------------------- k-core

KCORE_MAX_ROUNDS = 32


def kcore(
    pairs: DataFrame, k: int = 2, max_rounds: int = KCORE_MAX_ROUNDS
) -> DataFrame:
    """k-core of an undirected graph given as DISTINCT directed
    both-ways pairs ``(u, v)`` (the ``comention_pairs`` shape): peel
    nodes of degree < k until fixpoint; output ``(node, degree)`` with
    the degree INSIDE the surviving core.

    The density filter KG curation runs before community detection /
    embedding training: the k-core strips the long tail of weakly
    co-mentioned terms while keeping the cohesive concept clusters.

    Each round is one double semi-join (edges with both endpoints
    alive) + one map-side-combinable degree count — never an all-pairs
    product. Peeling is monotone (alive set shrinks), so the alive
    COUNT is a convergence certificate; the loop raises if the graph
    hasn't converged within ``max_rounds`` rather than returning a
    non-core (the bounded SQL oracle unrolls exactly ``max_rounds``
    rounds, so an early-converged engine result — extra rounds are
    no-ops at fixpoint — equals the oracle's, and a non-converged one
    must fail loudly, never silently diverge).
    """
    und = pairs.select("u", "v").localCheckpoint(eager=True)
    alive, n_alive = pin_count(und.select(F.col("u").alias("node")).distinct())
    for _ in range(max_rounds):
        deg = (
            und.join(alive.hint("broadcast"), und["u"] == alive["node"], "left_semi")
            .join(
                alive.select(F.col("node").alias("vnode")).hint("broadcast"),
                F.col("v") == F.col("vnode"),
                "left_semi",
            )
            .groupBy("u")
            .agg(F.count("*").alias("degree"))
        )
        survivors, n_next = pin_count(
            deg.filter(F.col("degree") >= k).select(F.col("u").alias("node"))
        )
        if n_next == n_alive:
            return (
                deg.filter(F.col("degree") >= k)
                .select(
                    F.col("u").alias("node"),
                    F.col("degree").cast("bigint").alias("degree"),
                )
            )
        alive, n_alive = survivors, n_next
        if n_alive == 0:
            return alive.withColumn("degree", F.lit(0).cast("bigint"))
    raise RuntimeError(
        f"kcore: not converged after max_rounds={max_rounds}; the "
        f"unrolled oracle would diverge — raise max_rounds on both sides"
    )


def kcore_sql(k: int = 2, rounds: int = KCORE_MAX_ROUNDS) -> str:
    """DuckDB twin of :func:`kcore`: exactly ``rounds`` peeling rounds
    unrolled over a CTE named ``copairs`` (distinct directed both-ways
    pairs, supplied by the caller), then the in-core degree. Peeling is
    idempotent at fixpoint, so this equals the engine's converged
    result whenever the engine converges within ``rounds`` (and the
    engine RAISES otherwise — divergence is structurally impossible).
    Returns CTE text + body; caller wraps in WITH. Every round CTE is
    MATERIALIZED: each references its predecessor twice, so inlining
    would expand the chain exponentially (DuckDB literally runs out of
    file handles re-scanning the base views)."""
    parts = ["alive0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM copairs)"]
    for i in range(rounds):
        parts.append(
            f"""alive{i + 1} AS MATERIALIZED (
  SELECT e.u AS node FROM copairs e
  JOIN alive{i} a ON a.node = e.u
  JOIN alive{i} b ON b.node = e.v
  GROUP BY e.u HAVING COUNT(*) >= {k}
)"""
        )
    final = rounds
    ctes = ",\n".join(parts)
    body = f"""
SELECT e.u AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM copairs e
JOIN alive{final} a ON a.node = e.u
JOIN alive{final} b ON b.node = e.v
GROUP BY e.u"""
    return ctes + "\n-- BODY SPLIT --\n" + body
