"""Loop-safe checkpointing for iterative relational operators.

Every loop-carried DataFrame (connected components, pagerank, label
propagation, k-core/k-truss peeling, Bellman-Ford relaxation) runs
through ``iterate``, which checkpoints each generation with
``ckpt_reset_stats``. A bare ``localCheckpoint`` truncates *lineage* but
PRESERVES the origin plan's estimated *statistics* on the resulting
LogicalRDD — and in a loop whose round contains a join, those estimates
compound multiplicatively round-over-round (Catalyst's
``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` multiplies child estimates)
until ``java.math.BigInteger`` itself overflows at ~2^31 bits:

    ArithmeticException: BigInteger would overflow supported range

raised during PLANNING, before any task runs. The connected-components
loop hit exactly this at round ~25 on a 76,814-document template chain.

The fix: rebuild the Dataset over the checkpointed RDD. The rebuilt frame
drops the origin stats and reports ``defaultSizeInBytes``
(``Long.MaxValue``), which (a) stays bounded round-over-round and (b) can
never be elected a broadcast build side — the conservative direction for
loop-carried state at 100 TB (you never want the planner silently
broadcasting a frame whose size is loop-dependent).

Reference anchor: the reference engine has no iteration node at all
(cpp/src/arrow/acero/exec_plan.cc — plans are DAGs); loops are a
Spark-native extension, so this hazard has no reference analog.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ckpt_reset_stats", "ckpt_release", "iterate"]


def _local_checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """localCheckpoint at the serialized memory+disk level, rebuilt over
    the checkpointed RDD so the origin statistics are dropped.

    The rebuild goes through two PRIVATE JVM-side APIs
    (``SparkSession.internalCreateDataFrame`` and
    ``QueryExecution.toRdd``), verified working on PySpark 4.1. They do
    not exist under Spark Connect and could change across Spark
    upgrades, so incompatibility fails LOUDLY here — with a message
    naming the contract — rather than deep inside an iterative loop as
    an opaque Py4J error."""
    ck = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)
    spark = ck.sparkSession
    if not hasattr(spark, "_jsparkSession"):
        raise RuntimeError(
            "ckpt_reset_stats requires classic (JVM) PySpark: it rebuilds "
            "the Dataset over the checkpointed RDD via the private "
            "SparkSession.internalCreateDataFrame API, which does not "
            "exist under Spark Connect. Run iterative operators on a "
            "classic session, or replace this helper with a "
            "checkpoint-to-storage round trip."
        )
    try:
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Exception as exc:  # pragma: no cover - Spark-upgrade canary
        raise RuntimeError(
            "ckpt_reset_stats: the private Spark APIs it relies on "
            "(SparkSession.internalCreateDataFrame / QueryExecution.toRdd, "
            "verified on PySpark 4.1) failed — a Spark upgrade likely "
            "changed them. Without the stats reset, join-bearing iterative "
            "loops compound size estimates to BigInteger overflow at "
            "planning time; fix this helper before re-enabling the loops."
        ) from exc
    out = DataFrame(new_jdf, spark)
    # handle for ckpt_release: the checkpoint Dataset whose analyzed plan
    # (a LogicalRDD) owns the persisted RDD generation
    out._ckpt_src = ck
    return out


def ckpt_reset_stats(df: DataFrame, release: DataFrame | None = None) -> DataFrame:
    """Eager localCheckpoint + statistics reset — use this, not bare
    localCheckpoint, for any frame that re-enters joins (see the module
    docstring for the compounding hazard).

    Memory contract: each call persists ONE new RDD generation, stored
    SERIALIZED (``StorageLevel.MEMORY_AND_DISK``). Spark's default
    ``localCheckpoint`` level is deserialized, and its unroll across
    every executor thread at once is where a 30M-edge connected-
    components run OOM'd a 16 GB local JVM
    (``MemoryStore.putIteratorAsValues``); Spark's ContextCleaner only
    reclaims dropped generations on driver-GC cadence. Passing the
    previous generation as ``release`` unpersists it once the new one
    has materialized. The returned frame reads its generation; call
    ``ckpt_release`` on it when the consumer is done. Loops should use
    ``iterate``, which owns that bookkeeping.
    """
    out = _local_checkpoint(df, eager=True)
    if release is not None:
        ckpt_release(release)
    return out


def ckpt_release(frame: DataFrame) -> bool:
    """Unpersist the checkpoint generation behind a frame returned by
    ``ckpt_reset_stats``. Returns False (no-op) for frames this module
    did not produce or already-released frames; raises loudly — same
    private-API canary posture as the checkpoint itself — if the
    LogicalRDD handle cannot be reached on a frame that has one."""
    ck = getattr(frame, "_ckpt_src", None)
    if ck is None:
        return False
    try:
        plan = ck._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception as exc:  # pragma: no cover - Spark-upgrade canary
        raise RuntimeError(
            "ckpt_release: reaching the persisted RDD via "
            "QueryExecution.analyzed().rdd() (a LogicalRDD accessor, "
            "verified on PySpark 4.1) failed — a Spark upgrade likely "
            "changed the plan shape. Without the release, iterative loops "
            "re-accumulate one persisted generation per round."
        ) from exc
    frame._ckpt_src = None
    return True


def _differs(a: DataFrame, b: DataFrame, cols: list[str]) -> bool:
    """Two-sided set inequality: rows in exactly one of {a, b}. One-sided
    "no new rows" is insufficient — a round may strictly shrink the set."""
    one = F.lit(1).alias("one")
    return (
        a.join(b, cols, "left_anti").select(one)
        .union(b.join(a, cols, "left_anti").select(one))
        .count()
        > 0
    )


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    invariants: Iterable[DataFrame] = (),
    fixpoint: Sequence[str] | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` as a checkpointed loop; return the
    final generation, which stays persisted (the returned frame reads
    it — ``ckpt_release`` it when the consumer is done).

    Fixed-round mode (``fixpoint=None``) runs exactly ``rounds`` steps.
    Each round checkpoints eagerly (``ckpt_reset_stats``) and then
    releases its predecessor, so the loop holds one generation at a
    time. ``state`` itself is never checkpointed here: pass a projection
    over an invariant to let round 1 materialize it, or a checkpoint the
    caller built (it is released like any other generation).

    Fixpoint mode (``fixpoint=cols``) stops at the first round whose
    output equals its predecessor's as a set over ``cols``, and raises
    ``RuntimeError`` if ``rounds`` (the cap) pass without that. Each
    round checkpoints LAZILY and its ``count()`` is the materializing
    action, so the convergence count is the round's only job while the
    cardinalities differ; the two-sided anti-join check runs only when
    two consecutive counts agree. The predecessor is released after the
    count, because the new generation's computation reads its blocks
    until then.

    On every exit — normal, non-convergence or an exception raised by
    ``step`` or Spark — the ``invariants`` (checkpoints the step reads,
    e.g. an edge frame) and every generation except the returned one
    are released."""
    new = None
    try:
        prev_n = None
        for _ in range(rounds):
            new = _local_checkpoint(step(state), eager=fixpoint is None)
            done = False
            if fixpoint is not None:
                n = new.count()
                done = n == prev_n and not _differs(new, state, list(fixpoint))
                prev_n = n
            ckpt_release(state)
            state, new = new, None
            if done:
                return state
        if fixpoint is not None:
            raise RuntimeError(f"iterate: no fixpoint within the round cap of {rounds}")
        return state
    except BaseException:
        ckpt_release(state)
        if new is not None:
            ckpt_release(new)
        raise
    finally:
        for frame in invariants:
            ckpt_release(frame)
