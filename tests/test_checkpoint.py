"""Regression tests for arrow_spark.checkpoint: ``ckpt_reset_stats``, the
stats-reset checkpoint every iterative join loop must use, and
``iterate``, the loop primitive that owns checkpoint and release.

Background (r12 second-decade sweep): bare ``localCheckpoint`` preserves
the origin plan's size estimate, and a loop whose round joins the
checkpointed frame back into itself SQUARES that estimate every round —
bit-length doubles per round, so ``SizeInBytesOnlyStatsPlanVisitor``
overflows BigInteger (~2^31 bits) after ~25 rounds regardless of data
size, at PLANNING time ('ArithmeticException: BigInteger would overflow
supported range'). connected_components hit it at gen-sf3; the six graph
operators ran the identical shape until r13.

The compounding test below measures the mechanism directly (estimate
growth per round) instead of driving it all the way to the overflow: the
final pre-overflow rounds multiply ~2^30-bit BigIntegers, which costs
minutes of single-threaded JVM CPU by construction — the gen-sf3
incident IS the full-distance evidence, and doubling-per-round from a
measured base is arithmetic from there.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_spark.checkpoint import ckpt_reset_stats
from arrow_spark.operators.pagerank import pagerank

LONG_MAX = (1 << 63) - 1


def _self_join_round(df):
    """One estimate-squaring round: the frame joins a projection of
    itself (the CC pointer-jump / pagerank contrib shape)."""
    rhs = df.select(F.col("v").alias("rv"), F.col("x").alias("rx"))
    return df.join(rhs, df.v == F.col("rv")).select(
        "v", (F.col("x") + F.col("rx")).alias("x")
    )


def _est(df) -> int:
    # py4j maps scala.math.BigInt-backed sizeInBytes to a Python int or
    # a JavaObject depending on magnitude — normalize via str()
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_bare_localcheckpoint_compounds_estimates(spark):
    """SYNTHETIC NEGATIVE — proves the hazard the helper fixes is real
    on this Spark build (if a Spark upgrade makes bare localCheckpoint
    reset stats, this starts failing and the helper can be retired).
    6 rows; after each self-join round the bare checkpoint PRESERVES
    the squared estimate, so 6 rounds in, the 'size' of a 6-row frame
    exceeds 2^64 bytes — doubling bit-length per round reaches the
    BigInteger ceiling (2^31 bits) by ~round 25, the gen-sf3 crash."""
    df = spark.range(6).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    df = df.localCheckpoint(eager=True)
    base = _est(df)
    assert 0 < base < LONG_MAX
    ests = [base]
    for _ in range(6):
        df = _self_join_round(df).localCheckpoint(eager=True)
        ests.append(_est(df))
    # strictly growing, at least squaring-ish each round, and far past
    # any physical size for 6 rows by the end
    assert all(b > a for a, b in zip(ests, ests[1:])), ests
    assert ests[-1] > 2**64, ests
    assert ests[-1] > ests[0] ** 2, ests


def test_reset_stats_bounds_deep_self_join_loop(spark):
    """Same loop, stats-reset checkpoints: the estimate is pinned at
    Long.MaxValue every round (bounded — never reaches BigInteger
    planning math), and values stay exact (the helper is value-neutral).
    35 rounds ≈ 10 past where the bare shape overflowed at gen-sf3."""
    df = spark.range(6).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    df = ckpt_reset_stats(df)
    for _ in range(35):
        df = ckpt_reset_stats(_self_join_round(df))
        assert _est(df) == LONG_MAX
    rows = {r["v"]: r["x"] for r in df.collect()}
    # x doubles every round: 2^35 per vertex
    assert rows == {v: 2**35 for v in range(6)}


def test_reset_stats_pins_size_to_default(spark):
    """The reset frame must report defaultSizeInBytes (Long.MaxValue):
    bounded round-over-round AND never broadcast-eligible — while the
    bare checkpoint of the same join preserves the origin estimate."""
    df = spark.range(100).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    joined = _self_join_round(ckpt_reset_stats(df))
    assert _est(ckpt_reset_stats(joined)) == LONG_MAX
    # ...while the bare checkpoint PRESERVES the origin join estimate —
    # here LONG_MAX² scaled by projection width, i.e. ABOVE Long.MaxValue
    # (stats are BigInt), proving preservation rather than measurement
    bare = _est(joined.localCheckpoint(eager=True))
    assert bare != LONG_MAX and bare > LONG_MAX


def test_pagerank_high_iteration_regression(spark):
    """pagerank at 40 iterations — past the round count that killed the
    bare-localCheckpoint shape (estimate bit-length doubles per round →
    overflow ~round 25). Must complete and stay a distribution."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(12)] + [(12, 0, 1.0)],
        "src long, dst long, w double",
    )
    ranks = pagerank(edges, n_iters=40)
    rows = ranks.collect()
    assert len(rows) == 13
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-6


def test_connect_guard_message():
    """ADVICE r12: a session without a JVM handle (Spark Connect) must
    fail loudly AT the helper with a message naming the contract."""

    class _FakeConnectDF:
        def localCheckpoint(self, eager=True, storageLevel=None):
            return self

        @property
        def sparkSession(self):
            class _S:  # no _jsparkSession attribute
                pass

            return _S()

    with pytest.raises(RuntimeError, match="Spark Connect"):
        ckpt_reset_stats(_FakeConnectDF())


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_frees_generation_and_keeps_values(spark):
    """r13 (E=30M CC OOM): generations accumulate unless released. A
    release must free the block while the SUCCESSOR generation — built
    from the released one — stays correct."""
    from arrow_spark.checkpoint import ckpt_release

    base = _n_persistent(spark)
    g1 = ckpt_reset_stats(
        spark.range(1000).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    )
    g2 = ckpt_reset_stats(_self_join_round(g1), release=g1)
    assert _n_persistent(spark) == base + 1  # g1's block gone, g2's live
    assert g1._ckpt_src is None
    assert g2.agg(F.sum("x")).collect()[0][0] == 2000
    # releasing a frame this module didn't produce is a no-op
    from arrow_spark.checkpoint import ckpt_release as rel

    assert rel(spark.range(3)) is False
    assert rel(g1) is False  # already released
    assert rel(g2) is True
    assert _n_persistent(spark) == base


def test_generations_persist_serialized(spark):
    """Default storage must be the SERIALIZED memory+disk level: the
    deserialized unroll across all executor threads at once is where
    the 30M-edge CC sweep OOM'd (MemoryStore.putIteratorAsValues)."""
    from arrow_spark.checkpoint import ckpt_release

    g = ckpt_reset_stats(spark.range(10).select(F.col("id").alias("v")))
    desc = g._ckpt_src._jdf.queryExecution().analyzed().rdd().getStorageLevel().description()
    assert "Serialized" in desc and "Disk" in desc, desc
    ckpt_release(g)


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _new_persistent(spark, before: set) -> int:
    """Persisted RDDs created since ``before`` and still live. Counting
    new ids rather than the total keeps these checks immune to Spark's
    ContextCleaner freeing earlier tests' frames at driver-GC time."""
    return len(_persistent_ids(spark) - before)


def test_loop_holds_one_generation(spark):
    """The loop shape must hold exactly one persisted generation
    regardless of round count — hand-rolled with ``release=`` and
    driven by ``iterate``, which also releases its invariants on exit
    and leaves only the returned generation live."""
    from arrow_spark.checkpoint import ckpt_release, iterate

    before = _persistent_ids(spark)
    seed = spark.range(200).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    state = ckpt_reset_stats(seed)
    for _ in range(6):
        state = ckpt_reset_stats(_self_join_round(state), release=state)
        assert _new_persistent(spark, before) == 1
    ckpt_release(state)
    assert _new_persistent(spark, before) == 0

    inv = ckpt_reset_stats(spark.range(3).select(F.col("id").alias("v")))
    seen = []

    def step(df):
        seen.append(_new_persistent(spark, before))
        return _self_join_round(df)

    state = iterate(ckpt_reset_stats(seed), step, 6, invariants=(inv,))
    # every round starts from the invariant + exactly one generation
    assert seen == [2] * 6
    assert _new_persistent(spark, before) == 1
    assert inv._ckpt_src is None
    assert state.agg(F.sum("x")).collect()[0][0] == 200 * 2**6
    ckpt_release(state)
    assert _new_persistent(spark, before) == 0


def test_iterate_releases_everything_when_a_round_raises(spark):
    """A step that raises in round 3 must leave no persisted RDD behind:
    the live generation and the invariants are released on the error
    path, and the step's exception propagates unchanged."""
    from arrow_spark.checkpoint import iterate

    before = _persistent_ids(spark)
    inv = ckpt_reset_stats(spark.range(3).select(F.col("id").alias("v")))
    calls = []

    def step(df):
        calls.append(1)
        if len(calls) == 3:
            raise ValueError("step failed in round 3")
        return _self_join_round(df)

    state = ckpt_reset_stats(
        spark.range(50).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    )
    with pytest.raises(ValueError, match="round 3"):
        iterate(state, step, 6, invariants=(inv,))
    assert len(calls) == 3
    assert _new_persistent(spark, before) == 0


def test_iterate_fixpoint_cap_raises_and_leaks_nothing(spark):
    """Fixpoint mode on a step that never converges (every round shifts
    every row, so counts agree but the sets differ) must raise a
    RuntimeError naming the round cap, with nothing left persisted."""
    from arrow_spark.checkpoint import iterate

    before = _persistent_ids(spark)
    inv = ckpt_reset_stats(spark.range(3).select(F.col("id").alias("v")))
    init = spark.range(20).select(F.col("id").alias("v"))
    with pytest.raises(RuntimeError, match="round cap of 4"):
        iterate(
            init,
            lambda df: df.select((F.col("v") + 1).alias("v")),
            4,
            invariants=(inv,),
            fixpoint=("v",),
        )
    assert _new_persistent(spark, before) == 0


def test_iterate_fixpoint_stops_at_first_repeat(spark):
    """Fixpoint mode returns the first generation equal (as a set) to
    its predecessor and keeps only that one persisted."""
    from arrow_spark.checkpoint import ckpt_release, iterate

    before = _persistent_ids(spark)
    calls = []

    def step(df):
        calls.append(1)
        return df.select(F.least(F.col("v") + 1, F.lit(3)).alias("v")).distinct()

    out = iterate(spark.range(1).select(F.col("id").alias("v")), step, 10, fixpoint=("v",))
    # 0 → 1 → 2 → 3 → 3: the fourth round repeats the third
    assert len(calls) == 4
    assert [r["v"] for r in out.collect()] == [3]
    assert _new_persistent(spark, before) == 1
    ckpt_release(out)
    assert _new_persistent(spark, before) == 0
