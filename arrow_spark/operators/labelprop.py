"""Label-propagation community detection as a relational iterative op.

LPA (Raghavan et al. 2007): every node adopts the label carried by the
heaviest share of its neighborhood; communities emerge in a handful of
rounds with no objective function to optimize. The textbook algorithm is
asynchronous with random tie-breaks — useless for a verifiable engine —
so this is the SYNCHRONOUS variant with a total deterministic order:
argmax by summed edge weight, ties to the SMALLEST label. Every quantity
is an integer (labels = node ids, weights = counts), so there is no
float anywhere and an unrolled SQL replay is bit-exact by construction.

Scale anatomy per round (same 2-shuffle shape as pagerank):
labels ⋈ symmetrized edges on the neighbor key (shuffle ∝ edges), then
groupBy (node, label) + a per-node argmax window — both map-side
combinable / single-pass. NO driver-side graph state; localCheckpoint
truncates the per-round lineage (the connected-components lesson:
nested iteration plans compile quadratically otherwise).

Reference anchor: the reference has no graph layer; iterative
re-labeling is the same re-run-the-plan loop its users drive around
Acero (llm/dedup.connected_components cites the pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..checkpoint import ckpt_reset_stats, iterate

__all__ = ["label_propagation"]


def label_propagation(
    edges: DataFrame,
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
) -> DataFrame:
    """(node, label) after ``n_iters`` synchronous LPA rounds over the
    undirected view of (src, dst[, w]). label_0(v) = v; each round
    label(v) = argmax over neighbor labels of total incident weight,
    ties to the smallest label. Nodes keep their label if (impossibly,
    given nodes are defined by edges) no neighbor row arrives."""
    e = edges.select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        (F.col(weight) if weight else F.lit(1)).cast("long").alias("w"),
    )
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    # Checkpoint the loop-invariant symmetrized edge frame ONCE (the
    # CC-loop `sym` pattern): every round joins labels against it, so
    # an unmaterialized edge lineage (event-scan + window + groupBy)
    # would be recomputed per round. Stats-reset so the corpus-scale
    # frame can never be elected a broadcast side.
    und = ckpt_reset_stats(und)
    pick = W.partitionBy("node").orderBy(
        F.col("s").desc(), F.col("label").asc()
    )

    def _round(labels: DataFrame) -> DataFrame:
        votes = (
            und.join(labels, und["v"] == labels["node"])
            .select(F.col("u").alias("node"), "label", "w")
            .groupBy("node", "label")
            .agg(F.sum("w").alias("s"))
        )
        # the winner frame covers EVERY node: nodes are defined by
        # edges, und is symmetrized, and every neighbor is itself a
        # node — so every node receives at least one vote
        return (
            votes.withColumn("__rn__", F.row_number().over(pick))
            .where(F.col("__rn__") == 1)
            .select("node", "label")
        )

    # generation 0 is a projection over the persisted und checkpoint;
    # round 1 materializes it inside its own checkpoint action
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    return iterate(labels, _round, n_iters, invariants=(und,))
