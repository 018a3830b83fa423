"""Weighted PageRank as a relational iterative operator.

The canonical "iterative algorithm on a relational engine" shape (the
reference side expresses such loops by re-running Acero plans; Spark
expresses them as a driver loop over declarative iterations — same
contract as `llm/dedup.connected_components` and the IVF Lloyd loop):

    rank_{i+1}(n) = (1-d)/N + d * ( Σ_{(s→n)} rank_i(s)·w/out(s)
                                    + dangling_i / N )

Scale anatomy per iteration (what survives a 1000-executor graph):
- contributions: ranks ⋈ edges on src (shuffle ∝ edges), groupBy dst
  (second shuffle, map-side combined) — the classic 2-shuffle PR step;
- dangling mass: an anti-join + single-row sum, broadcast back;
- NO driver-side graph state: ranks stay a DataFrame, the driver loop
  holds only the plan. localCheckpoint truncates lineage each round
  (the connected-components lesson: nested iteration plans compile
  quadratically otherwise).

Cross-engine determinism: ranks snap to 1e-9 after every aggregation
(floor(x·1e9 + 0.5)/1e9), so float accumulation order — partition
order in Spark, scan order in an oracle engine — cannot drift the
fixpoint; every iteration's input is bit-identical on both engines.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import ckpt_reset_stats, iterate

__all__ = ["pagerank", "transition_edges"]


def _snap9(col):
    return F.floor(col * 1e9 + F.lit(0.5)) / 1e9


def transition_edges(
    events: DataFrame,
    node_col: str,
    partition_col: str,
    order_col: str,
) -> DataFrame:
    """(src, dst, w) edges from consecutive node visits per partition
    key — the sessionized click-graph builder. One window over
    (partition, order) + one count shuffle."""
    from pyspark.sql import Window as W

    w = W.partitionBy(partition_col).orderBy(order_col)
    prev = F.lag(F.col(node_col)).over(w)
    return (
        events.select(prev.alias("src"), F.col(node_col).alias("dst"))
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
) -> DataFrame:
    """Weighted PageRank over an (src, dst[, w]) edge frame.

    Returns (node, rank) after ``n_iters`` synchronous iterations from
    a uniform start; dangling mass (nodes with no out-edges) is
    redistributed uniformly each round, so Σ rank stays 1 up to the
    1e-9 snapping.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast("double").alias("w"),
    )
    # Checkpoint the loop-invariant edge frame ONCE with the out-weight
    # pre-folded in as an `ow` column, so the contribution step is a
    # single edges⋈ranks join. Stats-reset so the corpus-scale edge
    # frame can never be elected a broadcast side.
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    e = ckpt_reset_stats(e.join(outw, "src"))
    # Node set with a has_out flag: the flag rides inside the
    # loop-carried rank frame, so the round's dangling aggregate is a
    # filtered sum over the persisted ranks — no join, no second frame.
    nodes = ckpt_reset_stats(
        e.select(F.col("src").alias("n"), F.lit(1).alias("has_out"))
        .union(e.select(F.col("dst").alias("n"), F.lit(0).alias("has_out")))
        .groupBy("n")
        .agg(F.max("has_out").alias("has_out"))
    )
    # N as a driver-side literal: the node count is loop-invariant
    # scalar metadata
    n_nodes = nodes.count()

    def _round(ranks: DataFrame) -> DataFrame:
        contrib = (
            e.join(ranks, e.src == ranks.n)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("ow")).alias("s"))
        )
        dang = (
            ranks.where(F.col("has_out") == 0)
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("d"))
        )
        return (
            ranks.crossJoin(F.broadcast(dang))
            .join(contrib, ranks.n == contrib.dst, "left")
            .select(
                "n",
                "has_out",
                _snap9(
                    F.lit((1 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0.0))
                        + F.col("d") / F.lit(float(n_nodes))
                    )
                ).alias("r"),
            )
        )

    # generation 0 is a projection over the `nodes` checkpoint — round 1
    # materializes it inside its own checkpoint action
    ranks = iterate(
        nodes.select("n", "has_out", F.lit(1.0 / n_nodes).alias("r")),
        _round,
        max(1, n_iters),
        invariants=(e, nodes),
    )
    return ranks.select(F.col("n").alias("node"), F.col("r").alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
) -> DataFrame:
    """Personalized PageRank: the teleport vector concentrates on a
    SOURCE SET instead of the uniform vector — the recommendation /
    similarity-seed primitive ("rank everything by proximity to these
    seeds"). ``sources`` is a 1-column (n) frame of seed nodes.

    Differences from the global walk, all three localized to the seeds:
    start mass = uniform over S; restart mass (1−d) goes to S only;
    dangling mass returns to S only. Everything else — the 2-shuffle
    contribution round, per-iteration 1e-9 snapping (which is what
    makes the unrolled-CTE oracle bit-exact), localCheckpoint lineage
    cuts — is the pagerank machinery unchanged. Seeds are broadcast
    (seed sets are query-sized, not graph-sized).
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast("double").alias("w"),
    )
    # loop-invariant edge frame with the out-weight pre-folded in, and
    # the node frame carrying BOTH per-node flags the round needs
    # (in_s for teleport/restart mass, has_out for dangling mass) — see
    # pagerank above: no per-round outw join, no per-round anti-join,
    # no per-round seed-count broadcast.
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    e = ckpt_reset_stats(e.join(outw, "src"))
    s = sources.select(F.col(sources.columns[0]).alias("n")).distinct()
    nodes = ckpt_reset_stats(
        e.select(F.col("src").alias("n"), F.lit(1).alias("has_out"))
        .union(e.select(F.col("dst").alias("n"), F.lit(0).alias("has_out")))
        .groupBy("n")
        .agg(F.max("has_out").alias("has_out"))
        .join(F.broadcast(s.withColumn("__in_s__", F.lit(1))), "n", "left")
        .select(
            "n",
            "has_out",
            F.coalesce(F.col("__in_s__"), F.lit(0)).alias("in_s"),
        )
    )
    # seed count as a driver-side literal (seed sets are query-sized)
    n_seeds = s.count()

    def _round(ranks: DataFrame) -> DataFrame:
        contrib = (
            e.join(ranks, e.src == ranks.n)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("ow")).alias("cs"))
        )
        dang = (
            ranks.where(F.col("has_out") == 0)
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("d"))
        )
        return (
            ranks.crossJoin(F.broadcast(dang))
            .join(contrib, ranks.n == contrib.dst, "left")
            .select(
                "n",
                "has_out",
                "in_s",
                _snap9(
                    (1 - F.lit(damping))
                    * F.col("in_s").cast("double") / F.lit(float(n_seeds))
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("cs"), F.lit(0.0))
                        + F.col("d") * F.col("in_s").cast("double")
                        / F.lit(float(n_seeds))
                    )
                ).alias("r"),
            )
        )

    # generation 0 is a projection over the nodes checkpoint
    seed = F.col("in_s").cast("double") / F.lit(float(n_seeds))
    ranks = iterate(
        nodes.select("n", "has_out", "in_s", seed.alias("r")),
        _round,
        max(1, n_iters),
        invariants=(e, nodes),
    )
    return ranks.select(F.col("n").alias("node"), F.col("r").alias("rank"))


def hits(
    edges: DataFrame,
    n_iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999): authority(n) =
    Σ hub(m) over in-edges, hub(n) = Σ auth(m) over out-edges, L1-
    normalized each half-step — the link-analysis complement to
    PageRank (which measures a single random-walk centrality; HITS
    separates "points at good pages" from "is pointed at").

    Same relational iteration discipline as pagerank: each half-step is
    one edge⋈scores shuffle + a group-sum, every score snaps to 1e-9
    before the next step (what makes the unrolled-CTE oracle replay
    bit-exact), localCheckpoint truncates lineage per round. The L1
    norm is a 1-row broadcast aggregate. Nodes outside the update's
    support (no in-edges / no out-edges) hold score 0 — they stay in
    the output, zero-valued, like pagerank's dangling handling.

    Returns (node, authority, hub).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # loop-invariant edge frame: checkpoint once (see pagerank above) —
    # HITS re-joins it twice per round (authority and hub half-steps)
    e = ckpt_reset_stats(e)
    nodes = ckpt_reset_stats(
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .distinct()
    )
    n_nodes = nodes.count()

    def _norm(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(F.sum(col).alias("__t__"))
        return df.crossJoin(F.broadcast(tot)).select(
            "n",
            *[c for c in ("a", "h") if c != col],
            F.when(
                F.col("__t__") > 0, _snap9(F.col(col) / F.col("__t__"))
            ).otherwise(F.lit(0.0)).alias(col),
        ).select("n", "a", "h")

    # The loop-carried score frame IS the node universe (one row per
    # node, invariant), so each half-step left-joins the new raw scores
    # straight onto it. Each half-step is its own checkpointed round.
    def _authority(scores: DataFrame) -> DataFrame:
        a_new = (
            e.join(scores, e.src == scores.n)
            .groupBy("dst")
            .agg(_snap9(F.sum("h")).alias("a_raw"))
        )
        nxt = (
            scores.join(a_new, scores.n == a_new.dst, "left")
            .select(
                "n",
                F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("a"),
                "h",
            )
        )
        return _norm(nxt, "a")

    def _hub(scores: DataFrame) -> DataFrame:
        h_new = (
            e.join(scores.select(F.col("n").alias("dn"), "a"), e.dst == F.col("dn"))
            .groupBy("src")
            .agg(_snap9(F.sum("a")).alias("h_raw"))
        )
        nxt = (
            scores.join(h_new, scores.n == h_new.src, "left")
            .select(
                "n",
                "a",
                F.coalesce(F.col("h_raw"), F.lit(0.0)).alias("h"),
            )
        )
        return _norm(nxt, "h")

    half_steps = itertools.cycle((_authority, _hub))
    # generation 0 is a projection over the nodes checkpoint
    scores = iterate(
        nodes.select(
            "n",
            F.lit(1.0 / n_nodes).alias("a"),
            F.lit(1.0 / n_nodes).alias("h"),
        ),
        lambda scores: next(half_steps)(scores),
        2 * max(1, n_iters),
        invariants=(e, nodes),
    )
    return scores.select(
        F.col("n").alias("node"),
        F.col("a").alias("authority"),
        F.col("h").alias("hub"),
    )
