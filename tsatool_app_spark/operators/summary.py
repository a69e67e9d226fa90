"""Rollup aggregations (SURVEY §2.4 A1-A3).

The reference computes the validity rollup in pandas on the driver
(/root/reference/tsa/condition.py:435-446); here it is a Spark aggregation —
partial + final hash agg, so at 100 TB the driver never sees row data, only
one summary row per condition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validity_summary(
    cond_df: DataFrame,
    group_cols: list[str] | None = None,
    *,
    keys: DataFrame | None = None,
) -> DataFrame:
    """A3 — per-condition valid/notvalid/nodata durations and percentages.

    Input: combine_blocks output (vfrom, vuntil, vdiff_s, ..., master).
    Semantics (condition.py:435-446):
      data_from = min(vfrom); data_until = max(vuntil)
      tottime   = data_until - data_from        -- the OBSERVED extent,
                                                -- not the requested window
      tottime_valid    = Σ vdiff where master IS TRUE
      tottime_notvalid = Σ vdiff where master IS FALSE
      tottime_nodata   = tottime - valid - notvalid
      percentages      = each / tottime
    Durations are exact whole seconds (long); percentages double.

    ``keys`` (requires ``group_cols``): a frame holding exactly the
    ``group_cols`` columns, and it must name EVERY group, those of
    ``cond_df`` included: it adds the groups that have no rows and filters
    out none. Its rows are unioned onto
    ``cond_df`` with NULL values before the grouping, so a group with NO
    input rows still yields one row, with the same shape the ungrouped
    rollup produces on empty input: NULL data_from/data_until/tottime,
    zero valid/notvalid, NULL percentages (min, max and sum skip NULLs).
    This preserves the reference's one-row-per-condition contract
    (condition.py:435-446 always emits a row) when many conditions share
    one grouped rollup, with one aggregation and no join.
    """
    gcols = group_cols or []
    if keys is not None and not gcols:
        raise ValueError("keys requires group_cols")
    if keys is not None:
        cond_df = cond_df.select(
            *gcols, "vfrom", "vuntil", "vdiff_s", "master"
        ).unionByName(keys.select(*gcols), allowMissingColumns=True)
    agg = cond_df.groupBy(*gcols).agg(
        F.min("vfrom").alias("data_from"),
        F.max("vuntil").alias("data_until"),
        F.sum(F.when(F.col("master") == True, F.col("vdiff_s"))).alias("_valid"),  # noqa: E712
        F.sum(F.when(F.col("master") == False, F.col("vdiff_s"))).alias("_notvalid"),  # noqa: E712
    )
    tot = F.col("data_until").cast("long") - F.col("data_from").cast("long")
    valid = F.coalesce(F.col("_valid"), F.lit(0)).cast("long")
    notvalid = F.coalesce(F.col("_notvalid"), F.lit(0)).cast("long")
    return agg.select(
        *gcols,
        "data_from",
        "data_until",
        tot.alias("tottime_s"),
        valid.alias("tottime_valid_s"),
        notvalid.alias("tottime_notvalid_s"),
        (tot - valid - notvalid).alias("tottime_nodata_s"),
        (valid / tot * 100.0).alias("percentage_valid"),
        (notvalid / tot * 100.0).alias("percentage_notvalid"),
        ((tot - valid - notvalid) / tot * 100.0).alias("percentage_nodata"),
    )


def observation_summary(
    obs: DataFrame,
    *,
    time_col: str = "tfrom",
    key_cols: tuple[str, str] = ("statid", "seid"),
    tz: str = "Europe/Helsinki",
) -> DataFrame:
    """A1 — monthly observation counts per station/sensor.

    Reference: database/observations_summary.sql:8-17 — GROUP BY
    date_part('month', tfrom AT TIME ZONE 'Europe/Helsinki'), statid, seid →
    count, min(tfrom), max(tfrom). Month is bucketed in local time (P8).
    Plain hash aggregation: map-side partial agg makes this one shuffle of
    (month × stations × sensors) partial rows regardless of input size.
    """
    month = F.month(F.from_utc_timestamp(F.col(time_col), tz)).alias("obs_month")
    return (
        obs.groupBy(month, *key_cols)
        .agg(
            F.count(F.lit(1)).alias("obs_count"),
            F.min(time_col).alias("first_obs"),
            F.max(time_col).alias("last_obs"),
        )
        .orderBy(*key_cols, "obs_month")
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    *,
    key_col: str = "statid",
    time_col: str = "tfrom",
) -> DataFrame:
    """Gaps-and-islands sessionization: consecutive events of one key within
    ``gap_minutes`` form a session. The same island pattern as pack_ranges
    W5, applied to raw events — one shuffle (window partitioning), and the
    session rollup reuses the partitioning (no second exchange), exactly
    like the pack_ranges plan."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(time_col)
    gap_s = gap_minutes * 60
    new_sess = F.when(
        F.lag(time_col).over(w).isNull()
        | (
            F.col(time_col).cast("long") - F.lag(time_col).over(w).cast("long")
            > gap_s
        ),
        1,
    ).otherwise(0)
    with_id = events.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_id.groupBy(key_col, "session_id")
        .agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def distinct_keys(obs: DataFrame, key_col: str = "statid") -> DataFrame:
    """A2 — distinct station ids, ordered.

    The reference DISABLED this (SELECT DISTINCT statid too slow over a
    2-month window — cond_collection.py:131, :422-428). In Spark it is a
    partial-agg distinct: each task emits its local key set, one tiny shuffle
    merges them — cheap at any scale.
    """
    return obs.select(key_col).distinct().orderBy(key_col)
