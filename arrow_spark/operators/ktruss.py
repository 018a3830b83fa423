"""k-truss decomposition: triangle-support edge peeling.

The k-truss (Cohen 2008) is the maximal subgraph where every EDGE sits
in ≥ k−2 triangles — a strictly stronger cohesion filter than the
k-core (every k-truss is inside the (k−1)-core), and the standard
community-backbone extractor: edges that survive are "socially
reinforced" by common neighbors, bridges are peeled away.

Relational rounds, same bounded-round contract as k_core: each round
(1) enumerates triangles over the CANONICAL oriented edges (lo < hi) —
two equi-joins, the count_triangles wedge shape, never an all-pairs
product; (2) credits each triangle to its three edges (union of three
projections + one edge-keyed count); (3) keeps edges with support
≥ k−2 via an inner join (edges with ZERO support vanish from the
support table and are dropped by the join itself). localCheckpoint per
round truncates lineage.

All-integer algebra ⇒ the unrolled MATERIALIZED-CTE DuckDB oracle is
bit-exact whether or not the peel has converged.

Scale: per-round cost is the wedge join, Σ_u outdeg(u)² over the
current subgraph. The id-order orientation here is the simple variant;
swap in the degree orientation of operators/triangles.py (outdeg ≤
O(√E)) when hub skew dominates — peeling only shrinks the graph, so
round cost is monotonically decreasing either way.

Reference anchor: no graph nodes in the reference (cpp/src/arrow/acero);
this composes the same join algebra its users run downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import ckpt_reset_stats, iterate

__all__ = ["edge_support", "k_truss"]


def edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle counts of the canonical (lo, hi) frame:
    (lo, hi, support). Edges in no triangle are ABSENT (join-friendly;
    coalesce downstream if zeros matter)."""
    w1 = und.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    w2 = und.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wedges = w1.join(w2, "u").where(F.col("v") < F.col("w"))
    tri = wedges.join(
        und.select(F.col("lo").alias("v"), F.col("hi").alias("w")), ["v", "w"]
    )
    credits = (
        tri.select(F.col("u").alias("lo"), F.col("v").alias("hi"))
        .unionAll(tri.select(F.col("u").alias("lo"), F.col("w").alias("hi")))
        .unionAll(tri.select(F.col("v").alias("lo"), F.col("w").alias("hi")))
    )
    return credits.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def k_truss(und: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """Peel ``rounds`` times: drop every edge in fewer than k−2
    triangles of the current subgraph. Input is the canonical (lo, hi)
    frame (see kcore.undirected_edges). Returns surviving edges with
    their support INSIDE the final subgraph: (lo, hi, support).

    ``rounds`` is a hard bound (oracle-replayable), not a convergence
    check — at the fixpoint further rounds are no-ops."""

    def _peel(cur: DataFrame) -> DataFrame:
        sup = edge_support(cur).where(F.col("support") >= k - 2)
        return cur.join(sup.select("lo", "hi"), ["lo", "hi"], "left_semi")

    cur = iterate(ckpt_reset_stats(und), _peel, rounds)
    return cur.join(edge_support(cur), ["lo", "hi"], "left").select(
        "lo", "hi", F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support")
    )
