"""Alt-id / obsolete-term redirect map.

The reference's data model carries obsolescence (``is_obsolete``,
``ontology_processor.py:109,141-148``) and the store-side purge
(``mongodb_loader.py:19-44``); the north rule adds the redirect map:
each obsolete term resolves to a live replacement by following
``replaced_by`` chains to a fixpoint.

Chains are short (ontology curation rarely nests redirects more than a
few hops) — the loop is O(log2 max chain length) broadcast self-joins
over a tiny table (obsolete terms only), never touching the fact tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_loader_spark.fixpoint import pin_count


def redirect_map(term_dict: DataFrame, max_iterations: int = 16) -> DataFrame:
    """(src, dst): src = obsolete term id, dst = the live end of its
    ``replaced_by`` chain, or for a src on or leading into a cycle
    (curation error) one term inside it, the same on every run.

    Pointer jumping: each round moves every dst on to that dst's own
    dst (a live end has no row and stays put), so after round r a row
    stands 2^r hops down its chain. A chain of ``n_hops`` hops without
    a live end has revisited a term, so once 2^r >= n_hops a row that
    still moves is inside a cycle: stopping there is exact. Raises
    ``RuntimeError`` if rows still move after ``max_iterations``
    rounds short of that."""
    redirect, n_hops = pin_count(
        term_dict.filter(F.col("is_obsolete") & F.col("replaced_by").isNotNull())
        .select(F.col("id").alias("src"), F.col("replaced_by").alias("dst"))
    )
    for r in range(max(n_hops - 1, 0).bit_length()):
        if r == max_iterations:
            raise RuntimeError(f"redirect_map did not converge in {max_iterations}")
        hop = F.broadcast(redirect.selectExpr("src AS via", "dst AS via_dst"))
        jumped, moved = pin_count(
            redirect.join(hop, F.col("dst") == F.col("via"), "left"),
            F.col("via").isNotNull(),
        )
        redirect = jumped.select("src", F.coalesce("via_dst", "dst").alias("dst"))
        if not moved:
            break
    return redirect
