"""Partitioning strategies for 100 TB joins: bucketed co-located joins
and salted skew joins.

Arrow's Acero partitions within one process (radix-partitioned Swiss
join, swiss_join.cc); at cluster scale the equivalents are (a) bucketed
tables so repeated joins on the same key never shuffle, and (b) key
salting so a hot key spreads over the cluster instead of one executor.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    keys: Sequence[str],
    num_buckets: int = 32,
    sorted_by: Sequence[str] = (),
) -> None:
    """Persist as a bucketed (and optionally sort-bucketed) table.

    Joins/aggregations on ``keys`` between tables bucketed the same way
    need no shuffle — the scan is already hash-partitioned (and sorted,
    enabling shuffle-free sort-merge joins).
    """
    w = df.write.bucketBy(num_buckets, *keys)
    if sorted_by:
        w = w.sortBy(*sorted_by)
    w.mode("overwrite").format("parquet").saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables — Catalyst elides both exchanges."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Equi-join with key salting for skewed key distributions.

    The (large, skewed) left side gets a random salt in [0, n); the
    right side is replicated once per salt value (explode of a literal
    range — n× the small side, 1× the big side). The join key becomes
    (key, salt), and both sides are hash-partitioned on it into at least
    n partitions, so a hot key's rows spread over n reducers even when
    ``spark.sql.shuffle.partitions`` (the core count by default) is
    smaller than n. The join is a shuffled hash join building the
    replicated right side: a broadcast would bypass those reducers.

    AQE's skew-join split handles moderate skew automatically; salting
    is for the pathological single-key case where one key exceeds an
    executor. Inner and left joins only (replication breaks right/full
    semantics).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    spark = left.sparkSession
    n_parts = max(salt_buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))
    salt = (F.rand(seed) * salt_buckets).cast("int")
    lft = left.withColumn("__salt__", salt).repartition(n_parts, on, "__salt__")
    rgt = right.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    ).repartition(n_parts, on, "__salt__")
    out = lft.join(rgt.hint("shuffle_hash"), [on, "__salt__"], how)
    return out.drop("__salt__")
