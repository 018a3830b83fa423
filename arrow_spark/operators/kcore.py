"""k-core decomposition: iterative degree peeling as relational rounds.

The k-core of an undirected graph is its maximal subgraph where every
vertex has degree ≥ k (Seidman 1983) — the standard graph-cohesion
primitive (spam/bot subgraph mining, community seeding, graph
sparsification before expensive algorithms). Completes the relational
graph family beside centrality (pagerank), communities (labelprop),
distance (shortest_paths), and closure (triangles).

Peeling maps to bounded relational rounds exactly like shortest_paths:
each round is ONE degree aggregation (map-side combined, shuffle keyed
on the vertex) plus two BROADCAST semi-joins that drop edges touching a
peeled vertex — the surviving-vertex table is degree-filtered and
shrinks monotonically, so the per-round broadcast is bounded by the
vertex set, while the edge table is only ever filtered, never joined to
itself. localCheckpoint per round truncates lineage (the pagerank
shape). Rounds are a BOUNDED parameter on both engines — the oracle
unrolls the identical round count, so results match whether or not the
peel has reached its fixpoint (peeling is idempotent at the fixpoint).

All-integer algebra (degrees, counts) ⇒ the unrolled-CTE DuckDB oracle
is bit-exact by construction.

Scale: per round cost ∝ |E| map-side + |V| shuffle. For vertex sets too
large to broadcast, Spark falls back to a shuffled semi-join — the
algebra is unchanged. At 100 TB the edge table stays bucketed on `lo`
so the semi-join on the lo side is co-located.

Reference anchor: no graph nodes exist in the reference
(cpp/src/arrow/acero); its users run exactly these degree-filter rounds
downstream of the compute kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import ckpt_reset_stats, iterate

__all__ = ["undirected_edges", "k_core"]


def undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple edges (lo, hi): self-loops dropped,
    direction collapsed, duplicates removed."""
    return (
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .distinct()
    )


def k_core(
    und: DataFrame,
    k: int,
    rounds: int = 5,
) -> DataFrame:
    """Peel ``rounds`` times: drop every vertex with degree < k and the
    edges touching it. Input is the canonical (lo, hi) frame from
    ``undirected_edges``. Returns (node, degree) for vertices surviving
    in the peeled subgraph, with their degree inside it.

    ``rounds`` is a hard bound, not a convergence check — callers size
    it like shortest_paths sizes its relaxation rounds (the fixpoint is
    reached once no vertex falls below k; extra rounds are no-ops but
    still cost a pass, so don't oversize it)."""

    def _peel(cur: DataFrame) -> DataFrame:
        ends = cur.select(F.col("lo").alias("n")).unionAll(
            cur.select(F.col("hi").alias("n"))
        )
        alive = (
            ends.groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
            .select("n")
        )
        return (
            cur.join(
                F.broadcast(alive.withColumnRenamed("n", "lo")), "lo", "left_semi"
            )
            .join(
                F.broadcast(alive.withColumnRenamed("n", "hi")), "hi", "left_semi"
            )
        )

    cur = iterate(ckpt_reset_stats(und), _peel, rounds)
    ends = cur.select(F.col("lo").alias("node")).unionAll(
        cur.select(F.col("hi").alias("node"))
    )
    return ends.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
