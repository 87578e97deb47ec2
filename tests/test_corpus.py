"""Training-corpus operators: duplicate-cluster transitivity, split
determinism + leakage safety, PII scrubbing on a planted fixture, and
concat-and-chunk packing invariants. (Value-level engine parity is the
driver gate's job — these pin the semantics.)"""

import pytest
from pyspark.sql import functions as F

from ontology_loader_spark.operators.corpus import (
    PACK_BUDGET,
    duplicate_clusters,
    pack_documents,
    pii_scrub,
    train_test_split,
)


def test_duplicate_clusters_transitive(spark):
    """A≈B and B≈C must land A, B, C in ONE cluster even if A and C
    never share an LSH bucket directly — the property pair-level dedup
    lacks and cluster resolution exists for."""
    base = " ".join(f"w{i}" for i in range(40))
    b = base.replace("w0 ", "x0 ")            # ~1 shingle-edit from A
    c = b.replace("w39", "x39")               # ~1 from B, 2 from A
    rows = [(0, base), (1, b), (2, c),
            (3, " ".join(f"z{i}" for i in range(40)))]   # unrelated
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["canonical_id"]
           for r in duplicate_clusters(docs, threshold=0.5).collect()}
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == 3  # singleton maps to itself


def test_split_deterministic_and_leakage_safe(spark):
    docs = spark.range(2000).selectExpr("id AS doc_id", "'t' AS text")
    s1 = {r["doc_id"]: r["split"] for r in train_test_split(docs).collect()}
    s2 = {r["doc_id"]: r["split"]
          for r in train_test_split(docs.repartition(13)).collect()}
    assert s1 == s2                      # partitioning-independent
    frac = sum(1 for v in s1.values() if v == "test") / len(s1)
    assert 0.08 < frac < 0.17            # ~12.5% nominal
    # leakage safety: same key always lands on the same side, even
    # across duplicate rows
    dup = docs.union(docs)
    sd = train_test_split(dup).distinct()
    assert sd.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_pii_scrub_planted_fixture(spark):
    rows = [
        (0, "contact me at jane.doe+x@example.org for details"),
        (1, "call +1 (555) 123-4567 now"),
        (2, "ssn 123-45-6789 leaked"),
        (3, "clean text with no identifiers"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["scrubbed_text"], r["had_pii"])
           for r in pii_scrub(docs).collect()}
    assert got[0] == ("contact me at <EMAIL> for details", True)
    assert got[1] == ("call <PHONE> now", True)
    assert got[2] == ("ssn <SSN> leaked", True)
    assert got[3] == ("clean text with no identifiers", False)


def test_packing_invariants(spark):
    docs = spark.createDataFrame(
        [(i, " ".join("w" for _ in range(50))) for i in range(40)],
        "doc_id long, text string",
    )
    packs = pack_documents(docs, budget=128).collect()
    by_id = {r["doc_id"]: r for r in sorted(packs, key=lambda r: r["doc_id"])}
    # pack ids are the running token offset // budget, offsets < budget
    offset = 0
    for i in range(40):
        r = by_id[i]
        assert r["pack_id"] == offset // 128
        assert r["pack_offset"] == offset % 128
        offset += r["n_tokens"]
    # monotone non-decreasing pack ids in doc order
    ids = [by_id[i]["pack_id"] for i in range(40)]
    assert ids == sorted(ids)


def test_chunking_invariants(spark):
    """Chunks reconstruct the original token stream: dropping each
    chunk's overlap prefix (except the first) and concatenating in
    chunk order yields the document; every chunk except possibly the
    last is full-size."""
    from ontology_loader_spark.operators.corpus import chunk_documents

    texts = {
        0: " ".join(f"w{i}" for i in range(150)),   # multi-chunk
        1: " ".join(f"w{i}" for i in range(64)),    # exactly one window
        2: "short text",                            # tiny
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=16)
    by_doc = {}
    for r in chunks.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        toks = []
        for i, r in enumerate(rows):
            ct = r["chunk_text"].split(" ")
            assert len(ct) == r["n_tokens"]
            toks.extend(ct if i == 0 else ct[16:])
            if i < len(rows) - 1:
                assert r["n_tokens"] == 64   # only the last may be short
        assert " ".join(toks) == texts[doc_id]
    assert len(by_doc[2]) == 1 and len(by_doc[1]) == 1
    assert len(by_doc[0]) > 1


def test_comention_lift_orders_association(spark):
    """A pair that always co-occurs must out-lift a pair that
    co-occurs once by coincidence; lift of a perfectly-dependent pair
    is N/n (> 1 when the pair is rarer than the corpus)."""
    import datetime

    from ontology_loader_spark.schemas import TRANSCRIPT_SCHEMA
    from ontology_loader_spark.transcripts.mentions import (
        comention_lift,
        detect_mentions,
    )

    base = datetime.datetime(2026, 6, 1)
    rows = []
    # 10 turns: alpha+beta always together in 4 turns; gamma in 8 turns,
    # once alongside alpha+beta
    for i in range(4):
        rows.append((f"c{i}", 0, "user", "alpha beta here", None, base))
    for i in range(4, 10):
        rows.append((f"c{i}", 0, "user", "gamma alone", None, base))
    rows.append(("c0b", 0, "user", "alpha beta gamma", None, base))
    tr = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    md = spark.createDataFrame(
        [("T:a", "alpha"), ("T:b", "beta"), ("T:g", "gamma")],
        "id string, name string",
    )
    mentions = detect_mentions(spark, tr, md).localCheckpoint(eager=True)
    lift = {(r["u"], r["v"]): r["lift"] for r in comention_lift(mentions).collect()}
    # alpha/beta: n_uv=5, n_u=n_v=5, N=11 -> lift = 5*11/25 = 2.2
    assert abs(lift[("T:a", "T:b")] - 5 * 11 / 25) < 1e-12
    # alpha/gamma co-occur once: 1*11/(5*7) ≈ 0.314 — far lower
    assert lift[("T:a", "T:g")] < lift[("T:a", "T:b")] / 3


def test_corpus_prep_precedence(spark):
    """First-matching-rule precedence: an exact duplicate that is ALSO
    low quality reports exact_dup; the canonical copy of a dup group is
    judged on its own merits."""
    from ontology_loader_spark.operators.corpus import prepare_training_corpus

    long_good = " ".join(f"word{i}" for i in range(60))
    rows = [
        (0, long_good),            # canonical of the exact-dup group
        (1, long_good),            # exact dup (also >= token floor)
        (2, "tiny"),               # low quality (token floor)
        (3, "tiny"),               # exact dup of 2 -> exact_dup wins
        (4, " ".join(f"other{i}" for i in range(60))),  # kept
        (5, " ".join("spam" for _ in range(60))),  # repetitive (top token
                                                   # share 1.0, >= floor)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["verdict"]
           for r in prepare_training_corpus(docs).collect()}
    assert got[1] == "exact_dup"
    assert got[3] == "exact_dup"          # precedence over low_quality
    assert got[2] == "low_quality"        # canonical judged on merits
    assert got[0] == "kept"
    assert got[4] == "kept"
    assert got[5] == "repetitive"


def test_grouped_packing_matches_global_without_global_sort(spark):
    """The grouped running total (per-group window + prefix-summed
    group bases) must reproduce the global layout exactly, while the
    only single-partition exchange in its plan feeds the one-row-per-
    group base window — never the full document scan."""
    from pyspark.sql import functions as F

    from ontology_loader_spark.operators.corpus import pack_documents

    rows = [(i, " ".join(f"w{j}" for j in range((i * 13) % 37 + 1)))
            for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    glob = pack_documents(docs, budget=100)
    grouped = pack_documents(docs, budget=100, group_span=32)
    assert sorted(map(tuple, glob.collect())) == sorted(
        map(tuple, grouped.collect()))

    plan = grouped._jdf.queryExecution().executedPlan().toString()
    # big window is hash-partitioned on the group bucket
    assert "hashpartitioning(_grp" in plan
    # every single-partition exchange feeds directly from the
    # one-row-per-group aggregate (bounded rows), never the corpus scan
    lines = plan.splitlines()
    sp_idx = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert sp_idx  # the tiny base window does exist
    for i in sp_idx:
        child = "\n".join(lines[i + 1:i + 4])
        assert "HashAggregate" in child, child
    # custom monotone group column path agrees too
    via_col = pack_documents(
        docs.withColumn("bucket64", F.floor(F.col("doc_id") / 64)),
        budget=100, group_col="bucket64",
    )
    assert sorted(map(tuple, glob.collect())) == sorted(
        map(tuple, via_col.collect()))


def test_ngram_jaccard_auto_broadcast_mode(spark, monkeypatch):
    """The candidate set is measured: a small set broadcasts, and the
    result is identical with the ceiling forced to 0 (shuffle hash)."""
    from ontology_loader_spark import partitioning
    from ontology_loader_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard,
    )

    text = " ".join(f"tok{j} common words here" for j in range(12))
    rows = [(i, text + (f" extra{i}" if i % 2 else "")) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_candidate_pairs(docs).localCheckpoint(eager=True)

    def run():
        out = ngram_jaccard(docs, pairs)
        return sorted(map(tuple, out.collect())), out

    bcast, out = run()
    assert "BroadcastHashJoin [a" in out._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(partitioning, "BROADCAST_ROWS_MAX", 0)
    assert run()[0] == bcast
    assert len(bcast) > 0


def test_repetition_stats_fixture(spark):
    from ontology_loader_spark.operators.text import repetition_stats

    rows = [
        (0, "a b c a b c a b c"),   # shingles: 7 total, 3 distinct
        (1, "w x y z"),             # 2 shingles, no repeats
        (2, "q q q q"),             # one token repeated
        (3, "hi"),                  # under one shingle
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[0]["n_shingles"] == 7
    assert got[0]["shingle_rep_ratio"] == (7 - 3) / 7
    assert got[0]["top_token_ratio"] == 3 / 9
    assert got[1]["shingle_rep_ratio"] == 0.0
    assert got[1]["top_token_ratio"] == 0.25
    assert got[2]["shingle_rep_ratio"] == (2 - 1) / 2
    assert got[2]["top_token_ratio"] == 1.0
    assert got[3]["n_shingles"] == 0 and got[3]["shingle_rep_ratio"] == 0.0


def test_stratified_sample_rates_and_salt_independence(spark):
    from ontology_loader_spark.operators.corpus import (
        stratified_sample,
        train_test_split,
    )

    n = 4000
    docs = spark.createDataFrame([(i, "t") for i in range(n)],
                                 "doc_id long, text string")
    got = stratified_sample(docs).collect()
    assert len(got) == n
    by_dom = {}
    for r in got:
        by_dom.setdefault(r["domain"], []).append(r["kept"])
    rates = {d: sum(ks) / len(ks) for d, ks in by_dom.items()}
    for d, target in ((0, 1.0), (1, 0.5), (2, 0.25), (3, 0.125)):
        assert abs(rates[d] - target) < 0.06, (d, rates[d])
    # domain 0 keeps everything exactly (rate 65536/65536)
    assert rates[0] == 1.0

    # sampling must be independent of the split hash (different salt):
    # among kept docs the test fraction stays ~1/8, not skewed
    split = {r["doc_id"]: r["split"] for r in train_test_split(docs).collect()}
    kept_ids = [r["doc_id"] for r in got if r["kept"]]
    test_frac = sum(1 for i in kept_ids if split[i] == "test") / len(kept_ids)
    assert abs(test_frac - 0.125) < 0.04


def test_bm25_ranks_term_rich_docs_first(spark):
    from ontology_loader_spark.operators.text import bm25_topk

    filler = " ".join(f"f{i}" for i in range(30))
    rows = [
        (0, f"spark join window spark join {filler}"),   # all terms, high tf
        (1, f"spark {filler}"),                          # one term
        (2, f"{filler} nothing relevant here"),          # zero terms
        (3, f"join window {filler}"),                    # two terms
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(docs, topk=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in got}
    assert ranks[0] == 1                         # most terms, highest tf
    assert 2 not in ranks                        # zero-score excluded
    assert ranks[3] < ranks[1]                   # two terms beat one
    scores = {r["doc_id"]: r["score"] for r in got}
    assert scores[0] > scores[3] > scores[1] > 0


def test_lm_score_rare_tokens_score_lower(spark):
    from ontology_loader_spark.operators.text import lm_score

    common = " ".join("common" for _ in range(20))
    rows = [
        (0, common),                                  # highest-prob tokens
        (1, " ".join(f"rare{i}" for i in range(20))),  # all hapaxes
        (2, common),                                  # same as 0 exactly
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm_score(docs).collect()}
    assert got[0]["n_tokens"] == 20
    # identical docs score identically (pure function of content)
    assert got[0]["sum_logprob_micro"] == got[2]["sum_logprob_micro"]
    # per-token mean: common tokens beat hapaxes
    m0 = got[0]["sum_logprob_micro"] / got[0]["n_tokens"]
    m1 = got[1]["sum_logprob_micro"] / got[1]["n_tokens"]
    assert m0 > m1
    # exact integer determinism across partitionings
    again = {r["doc_id"]: r["sum_logprob_micro"]
             for r in lm_score(docs.repartition(16)).collect()}
    assert again == {k: v["sum_logprob_micro"] for k, v in got.items()}


def test_normalize_text_rules(spark):
    from ontology_loader_spark.operators.text import normalize_text

    rows = [
        (0, "  Hello   WORLD \x01\x02 end  "),
        (1, "already clean"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["norm_text"], r["changed"])
           for r in normalize_text(docs).collect()}
    assert got[0] == ("hello world end", True)
    assert got[1] == ("already clean", False)


# ------------------------------------------------- containment dedup


def test_containment_detects_embedded_doc(spark):
    """A doc whose text is a verbatim slice of a bigger doc: jaccard is
    low (sizes differ a lot) but containment is 1.0 — the asymmetric
    case the operator exists for."""
    from ontology_loader_spark.operators.dedup import containment_dedup

    big = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    small = " ".join(big.split()[30:45])  # 15-token verbatim slice
    other = " ".join(f"z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, other)], "doc_id long, text string"
    )
    rows = containment_dedup(docs).collect()
    assert [(r["contained"], r["container"]) for r in rows] == [(2, 1)]
    assert rows[0]["containment"] == 1.0


def test_containment_direction_tiebreak_and_threshold(spark):
    from ontology_loader_spark.operators.dedup import containment_dedup

    # identical docs (equal shingle-set size): contained = smaller id
    text = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(7, text), (3, text)], "doc_id long, text string"
    )
    rows = containment_dedup(docs).collect()
    assert [(r["contained"], r["container"]) for r in rows] == [(3, 7)]
    # a high threshold filters the pair out
    assert containment_dedup(docs, threshold=1.5).count() == 0


def test_rare_shingle_candidates_df_cap(spark):
    """Shingles shared by more docs than the df cap anchor nothing: a
    boilerplate prefix present in every doc generates zero candidate
    pairs (the quadratic guard), while a rare overlap does."""
    from ontology_loader_spark.operators.dedup import rare_shingle_candidates

    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [(i, boiler + f" u{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert rare_shingle_candidates(docs, max_df=8).count() == 0
    # two docs sharing a rare 8-token run do pair up
    rare = " ".join(f"r{i}" for i in range(8))
    docs2 = spark.createDataFrame(
        rows + [(100, rare + " a"), (101, rare + " b")],
        "doc_id long, text string",
    )
    cands = rare_shingle_candidates(docs2, max_df=8).collect()
    assert [(r["a"], r["b"]) for r in cands] == [(100, 101)]


# --------------------------------------------------- group quantiles


def test_group_quantiles_discrete_definition(spark):
    """Pinned against the discrete-quantile definition: least v with
    cdf*100 >= p*n. Counts [1,2,3,4] -> p25=1, p50=2, p90=4."""
    from ontology_loader_spark.operators.text import group_quantiles

    rows = [(i, " ".join(["t"] * n), "s1") for i, n in enumerate([1, 2, 3, 4])]
    rows += [(10 + i, " ".join(["t"] * 5), "s2") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["p25_tokens"], r["p50_tokens"], r["p90_tokens"])
        for r in group_quantiles(docs).collect()
    }
    assert got == {"s1": (1, 2, 4), "s2": (5, 5, 5)}


def test_group_quantiles_partitioning_invariant(spark):
    from ontology_loader_spark.operators.text import group_quantiles

    rows = [
        (i, " ".join(["t"] * (1 + i % 17)), f"s{i % 3}") for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    one = sorted(map(tuple, group_quantiles(docs.coalesce(1)).collect()))
    many = sorted(map(tuple, group_quantiles(docs.repartition(11)).collect()))
    assert one == many


# ----------------------------------------------------- span dedup


def test_span_dedup_cross_doc_and_within_doc(spark):
    """Exact duplicate docs: every span dup, canonicals all in the min
    doc_id. Within-doc repetition: the aligned repeat is flagged with
    the earlier position canonical. Unique doc: nothing flagged."""
    from ontology_loader_spark.operators.dedup import span_dedup

    base = " ".join(f"a{i}" for i in range(40))
    uniq = " ".join(f"u{i}" for i in range(40))
    block = " ".join(f"b{i}" for i in range(16))
    rows = [(1, base), (2, base), (3, uniq), (4, block + " " + block)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["pos"]): (r["is_dup"], r["is_canonical"])
        for r in span_dedup(docs).collect()
    }
    # docs 1/2: spans at pos 1,9,17,25 (len 40, W=16, stride 8)
    for pos in (1, 9, 17, 25):
        assert out[(1, pos)] == (True, True)
        assert out[(2, pos)] == (True, False)
    # doc 3: unique -> not dup, trivially canonical
    for pos in (1, 9, 17):
        assert out[(3, pos)] == (False, True)
    # doc 4: pos 1 == pos 17 (the repeated block), pos 9 straddles
    assert out[(4, 1)] == (True, True)
    assert out[(4, 17)] == (True, False)
    assert out[(4, 9)] == (False, True)


def test_span_dedup_partitioning_invariant(spark):
    from ontology_loader_spark.operators.dedup import span_dedup

    text = " ".join(f"t{i % 23}" for i in range(100))
    rows = [(i, text) for i in range(6)] + [
        (10 + i, " ".join(f"x{i}_{j}" for j in range(50))) for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = sorted(map(tuple, span_dedup(docs.coalesce(1)).collect()))
    many = sorted(map(tuple, span_dedup(docs.repartition(5)).collect()))
    assert one == many


# ----------------------------------------------------- char entropy


def test_char_entropy_known_values(spark):
    """'aaaa' -> H = 0; 'ab' -> H = ln 2; micro-nat quantization
    floors each term."""
    import math

    from ontology_loader_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abab")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_chars_counted"], r["entropy_micro"])
        for r in char_entropy(docs).collect()
    }
    # doc 1: one char class -> ln(4) - (4*ln(4))/4 quantized
    ln4 = math.floor(math.log(4) * 1e6)
    assert got[1] == (4, ln4 - (4 * ln4) // 4)  # == 0
    assert got[1][1] == 0
    # doc 2: two singleton chars: ln(2) - 0 (ln 1 = 0)
    assert got[2] == (2, math.floor(math.log(2) * 1e6))
    # doc 3: 2x a + 2x b: ln(4) - (2*q(ln2)+2*q(ln2)) div 4
    q2 = math.floor(math.log(2) * 1e6)
    assert got[3] == (4, ln4 - (4 * q2) // 4)


def test_char_entropy_partitioning_invariant(spark):
    from ontology_loader_spark.operators.text import char_entropy

    rows = [(i, f"text sample {i % 7} with mixed chars!") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = sorted(map(tuple, char_entropy(docs.coalesce(1)).collect()))
    many = sorted(map(tuple, char_entropy(docs.repartition(9)).collect()))
    assert one == many


# --------------------------------------------- novelty & mixture


def test_shingle_novelty_planted(spark):
    """Two identical docs share every shingle (novelty 0); a unique
    doc is 100% novel."""
    from ontology_loader_spark.operators.dedup import shingle_novelty

    shared = " ".join(f"s{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, shared), (2, shared), (3, uniq)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"])
        for r in shingle_novelty(docs).collect()
    }
    assert got[1] == (8, 0) and got[2] == (8, 0)  # 10 tokens -> 8 shingles
    assert got[3] == (8, 8)


def test_domain_mixture_weights_sqrt_rule(spark):
    """100-doc and 4-doc domains: weights 10 and 2, shares 10/12 and
    2/12 of a million (integer division)."""
    from ontology_loader_spark.operators.corpus import domain_mixture_weights

    rows = [(i, "t", "big") for i in range(100)] + [
        (1000 + i, "t", "small") for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_docs"], r["weight"], r["share_ppm"])
        for r in domain_mixture_weights(docs).collect()
    }
    assert got["big"] == (100, 10, 10 * 1_000_000 // 12)
    assert got["small"] == (4, 2, 2 * 1_000_000 // 12)


# ------------------------------------------------ top-k per domain


def test_topk_per_domain_semantics_and_window_group_limit(spark):
    from ontology_loader_spark.operators.corpus import topk_per_domain

    rows = [(i, "t", "a", 100 - i) for i in range(10)] + [
        (100 + i, "t", "b", 50) for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    got = sorted(
        (r["source"], r["rank"], r["doc_id"], r["n_chars"])
        for r in topk_per_domain(docs, k=3).collect()
    )
    assert got == [
        ("a", 1, 0, 100), ("a", 2, 1, 99), ("a", 3, 2, 98),
        # domain b ties on n_chars -> doc_id ascending breaks them
        ("b", 1, 100, 50), ("b", 2, 101, 50), ("b", 3, 102, 50),
    ]
    # the rank<=k filter must be pushed into a pre-shuffle partial
    # top-k (WindowGroupLimit), not applied after a full window sort
    plan = (
        topk_per_domain(docs, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_corpus_prep_plan_is_priority_union_not_joins(spark):
    """Scale pin for the verdict stage: resolution must be a priority
    UNION + min(priority) aggregate (uniform key, map-side combinable),
    never a join of corpus-keyed flag sets against the corpus scan —
    the dup/low-quality doc_id sets scale WITH the corpus, so the old
    five-way broadcast-left-join shape OOMs at web scale."""
    from ontology_loader_spark.operators.corpus import prepare_training_corpus

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}-{i}" for j in range(40))) for i in range(50)],
        "doc_id long, text string",
    )
    from ontology_loader_spark.operators.text import repetition_stats

    df = prepare_training_corpus(docs)
    df.collect()  # resolve adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the verdict aggregate partial-aggregates before the exchange
    assert "partial_min(priority" in plan
    assert "Union" in plan
    # the VERDICT stage adds no doc_id-keyed broadcast joins of its
    # own: the only ones in the whole plan are repetition_stats'
    # internal stat-joins (corpus-sized both sides — AQE broadcasts
    # them at toy scale only; at scale they are co-partitioned shuffle
    # joins). Self-calibrating count: corpus_prep may contain exactly
    # what its inner stage contributes, never the old five-flag chain.
    rep = repetition_stats(docs)
    rep.collect()
    rep_plan = rep._jdf.queryExecution().executedPlan().toString()
    marker = "BroadcastHashJoin [doc_id"
    assert plan.count(marker) <= rep_plan.count(marker)


def test_ngram_jaccard_shuffle_path_matches_broadcast(spark, monkeypatch):
    """Corpus-sized candidate sets must take the shuffle-hash path with
    identical output: with the ceiling forced to 0 pairs, ngram_jaccard
    and containment_dedup return the broadcast arm's rows from
    shuffled hash joins. On both arms no join is planned as a
    sort-merge, before or after adaptive re-planning."""
    from ontology_loader_spark import partitioning
    from ontology_loader_spark.operators import dedup as dd

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, base.replace("tok0", f"x{i % 3}")) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = dd.minhash_candidate_pairs(docs)

    big = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    embedded = spark.createDataFrame(
        [(1, big), (2, " ".join(big.split()[30:45]))], "doc_id long, text string"
    )
    ops = (lambda: dd.ngram_jaccard(docs, cand), lambda: dd.containment_dedup(embedded))

    def run(op):
        df = op()
        rows = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        final, initial = plan.split("== Initial Plan ==")
        assert "SortMergeJoin" not in initial
        return rows, final

    bcast = [run(op)[0] for op in ops]
    assert all(bcast)

    # a ceiling of 0 pairs emulates a pair set beyond the broadcast
    # threshold
    monkeypatch.setattr(partitioning, "BROADCAST_ROWS_MAX", 0)
    for op, want in zip(ops, bcast):
        rows, final = run(op)
        assert rows == want
        # the final adaptive plan: the pair-set joins ran as shuffled
        # hash joins, not broadcasts, and nothing ran as a sort-merge
        assert "ShuffledHashJoin [a" in final
        assert "SortMergeJoin" not in final


def test_duplicate_clusters_shuffle_path_matches(spark, monkeypatch):
    """duplicate_clusters must produce the same clusters whether the
    verify stage broadcasts or shuffles."""
    from ontology_loader_spark import partitioning
    from ontology_loader_spark.operators.corpus import duplicate_clusters

    base = " ".join(f"w{i}" for i in range(40))
    rows = [(0, base), (1, base.replace("w0 ", "x0 ")),
            (2, " ".join(f"z{i}" for i in range(40)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    want = sorted(map(tuple, duplicate_clusters(docs, threshold=0.5).collect()))
    monkeypatch.setattr(partitioning, "BROADCAST_ROWS_MAX", 0)
    got = sorted(map(tuple, duplicate_clusters(docs, threshold=0.5).collect()))
    assert got == want


def test_pack_documents_auto_dispatches_to_grouped(spark):
    """The ungrouped default must auto-route numeric doc_ids onto the
    grouped prefix-sum machinery (synthetic range bucket): output equal
    to the explicit global-order form, big window hash-partitioned on
    the bucket — the corpus-wide single-partition sort only runs when
    auto_span is explicitly disabled."""
    from ontology_loader_spark.operators.corpus import pack_documents

    rows = [(i, " ".join(f"w{j}" for j in range((i * 7) % 23 + 1)))
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    auto = pack_documents(docs, budget=100, auto_span=64)  # several buckets
    forced_global = pack_documents(docs, budget=100, auto_span=None)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, forced_global.collect()))

    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_grp" in plan
    glob_plan = forced_global._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_grp" not in glob_plan


def test_corpus_prep_containment_rule(spark):
    """include_containment=True drops the smaller side of a
    quote/wrapper pair as 'contained' — a case symmetric jaccard
    misses (the pair's jaccard is far below the near-dup threshold);
    the default chain keeps both docs and stays unchanged."""
    from ontology_loader_spark.operators.corpus import prepare_training_corpus

    quoted = " ".join(f"c{i}" for i in range(40))
    container = quoted + " " + " ".join(f"e{i}" for i in range(300))
    bystander = " ".join(f"z{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quoted), (2, container), (3, bystander)],
        "doc_id long, text string",
    )

    plain = {r["doc_id"]: r["verdict"]
             for r in prepare_training_corpus(docs).collect()}
    assert plain == {1: "kept", 2: "kept", 3: "kept"}

    with_cont = {r["doc_id"]: r["verdict"]
                 for r in prepare_training_corpus(
                     docs, include_containment=True).collect()}
    assert with_cont == {1: "contained", 2: "kept", 3: "kept"}


# --------------------- incremental (snapshot-over-corpus) near dedup

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_verdicts(spark):
    """dup_of_corpus beats dup_in_batch beats novel; the historical
    side enters only as its band index."""
    from ontology_loader_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_bands,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch_tpl = "one two three four five six seven eight nine ten"
    hist = _docs(spark, [(1, shared), (2, "totally different corpus text "
                                         "with many unrelated words here")])
    new = _docs(spark, [
        (10, shared),          # near-identical to corpus doc 1
        (11, batch_tpl),       # duplicate pair within the batch
        (12, batch_tpl),       #   -> 11 survives, 12 is dup_in_batch
        (13, "completely novel content nothing like anything else at all"),
    ])
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_minhash_dedup(new, minhash_bands(hist)).collect()
    }
    assert got[10] == "dup_of_corpus"
    assert got[11] == "novel"        # min-id survivor of the batch pair
    assert got[12] == "dup_in_batch"
    assert got[13] == "novel"


def test_incremental_dedup_corpus_priority_beats_batch(spark):
    """A new doc that matches BOTH the corpus and another new doc gets
    the corpus verdict (priority union + min)."""
    from ontology_loader_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_bands,
    )

    t = "red orange yellow green blue indigo violet white black grey"
    hist = _docs(spark, [(1, t)])
    new = _docs(spark, [(20, t), (21, t)])
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_minhash_dedup(new, minhash_bands(hist)).collect()
    }
    assert got[20] == "dup_of_corpus"
    assert got[21] == "dup_of_corpus"  # corpus hit outranks 20 < 21


def test_snapshot_split_is_deterministic_partition(spark):
    from ontology_loader_spark.operators.dedup import snapshot_split

    docs = _docs(spark, [(i, f"text {i}") for i in range(200)])
    new1, hist1 = snapshot_split(docs)
    new2, hist2 = snapshot_split(docs)
    n1 = sorted(r["doc_id"] for r in new1.collect())
    n2 = sorted(r["doc_id"] for r in new2.collect())
    h1 = sorted(r["doc_id"] for r in hist1.collect())
    assert n1 == n2                       # deterministic
    assert not set(n1) & set(h1)          # partition
    assert len(n1) + len(h1) == 200
    assert 20 < len(n1) < 80              # ~25% cut
