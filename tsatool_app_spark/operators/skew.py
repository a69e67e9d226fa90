"""Skew-handling utilities for hot keys at scale.

AQE's skew-join splitting covers joins; a skewed GROUP BY on a hot key
still funnels one key's rows through one reducer. Two-stage salted
aggregation spreads a hot key over N salt partitions, pre-aggregates, then
merges — standard practice for power-law key distributions (a handful of
mega-stations / viral documents in a 100 TB corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    *,
    salt_buckets: int = 32,
) -> DataFrame:
    """SUM per key, salted. The value is decimal-cast before the partial sum
    so the two-stage result is EXACTLY the single-stage result (double sums
    would differ by association order)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), salt_buckets)
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(F.col(value_col).cast("decimal(30,6)")).alias("_s")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_s").cast("double").alias(f"sum_{value_col}")
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed``'s key distribution is power-law and
    ``other`` is too big to broadcast: salt the skewed side (random bucket
    per row), REPLICATE the other side across all buckets, and join on
    (key, salt) — a hot key's rows now land on ``salt_buckets`` reducers
    instead of one.

    Result is row-identical to the plain join (asserted by the driver
    oracle): salting only re-partitions work; every skewed row still meets
    every matching other row exactly once (in exactly one salt bucket).

    Use when AQE cannot see or split the skew — streaming joins, skew in
    the build of a shuffled hash join, or key distributions known ahead of
    time. Cost: the other side shuffles ``salt_buckets``× its size; keep
    it the SMALLER input (but bigger than a broadcast) and the bucket
    count modest. ``how`` supports inner/left (left = skewed side
    preserved: an unmatched skewed row appears once — its single salt
    bucket finds no partner rows).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    salted = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), salt_buckets)
    )
    buckets = F.explode(
        F.array(*[F.lit(i).cast("long") for i in range(salt_buckets)])
    )
    replicated = other.withColumn("_salt", buckets)
    out = salted.join(replicated, [key, "_salt"], how)
    return out.drop("_salt")
