"""OLAP aggregation operators beyond the reference's surface: grouping-set
rollups and order statistics.

The reference app has no grouping sets / cube / percentile queries
(SURVEY.md §2.4: plain GROUP BY only); these extend the rebuild's analytics
surface the way a warehouse user would expect, with the same cross-engine
determinism rules as the rest of the registry:

- monetary / measure sums go through DECIMAL (order-independent, exact),
  final scalars cast to DOUBLE;
- rollup'd key columns are COALESCEd to an explicit sentinel so the
  subtotal rows compare hash-equal across engines (NULL-vs-NULL ordering
  quirks never enter the picture);
- percentiles are DISCRETE (a selection, not an interpolation): the value
  at row ``ceil(p * n)`` in (value, tiebreak) order. No arithmetic is
  performed on the selected value, so the result is bit-identical in any
  engine — interpolated quantiles would differ in the last ulp.

Scale notes: both operators are single-exchange hash aggregates. ROLLUP in
Spark expands to a grouping-set aggregate with partial (map-side)
aggregation per grouping set — the shuffle carries one row per (set, key)
per partition. The percentile window partitions on the group key; state is
one sorted run per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Sentinel for rolled-up (subtotal) key levels in rollup output.
ALL = "<ALL>"


def rollup_totals(
    df: DataFrame,
    group_cols: list[str],
    measures: dict[str, str],
) -> DataFrame:
    """Hierarchical subtotals via ROLLUP: one row per prefix of
    ``group_cols`` (plus the grand total), with exact DECIMAL sums of each
    measure column emitted as DOUBLE ``sum_<name>`` plus a row count.

    ``measures`` maps output suffix -> source column. Rolled-up key levels
    are rendered as the ``ALL`` sentinel (see module docstring).
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(F.col(src).cast("decimal(20,6)"))
        .cast("double")
        .alias(f"sum_{name}")
        for name, src in measures.items()
    ]
    rolled = df.rollup(*group_cols).agg(*aggs)
    return rolled.select(
        *[F.coalesce(F.col(c), F.lit(ALL)).alias(c) for c in group_cols],
        "n_rows",
        *[f"sum_{name}" for name in measures],
    )


def percentile_disc_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: list[float],
    *,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Discrete percentiles per group: for each p, the value at rank
    ``ceil(p * n)`` in ascending (value, tiebreak) order — the SQL-standard
    PERCENTILE_DISC, computed as a selection so it is engine-exact.

    Plan: one window (rank + group size share the same sort), then a
    conditional-aggregation pivot to one row per group. Single shuffle on
    the group key.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col), *[F.col(c) for c in tiebreak_cols]
    )
    ranked = df.select(
        group_col,
        F.col(value_col),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("_n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("_rn") == F.ceil(F.lit(p) * F.col("_n")).cast("long"),
                F.col(value_col),
            )
        ).alias(f"p{int(round(p * 100)):02d}")
        for p in percentiles
    ]
    return ranked.groupBy(group_col).agg(*aggs)


def cube_totals(
    df: DataFrame,
    group_cols: list[str],
    measures: dict[str, str],
) -> DataFrame:
    """All-subset subtotals via CUBE: one row per subset of ``group_cols``
    (2^n grouping sets), same measure/sentinel rules as rollup_totals.

    Spark expands CUBE into a single grouping-set hash aggregate with
    map-side partials — one shuffle carrying one row per (set, key) per
    input partition, NOT 2^n scans; the oracle spells the same thing as
    GROUPING SETS.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(F.col(src).cast("decimal(20,6)"))
        .cast("double")
        .alias(f"sum_{name}")
        for name, src in measures.items()
    ]
    cubed = df.cube(*group_cols).agg(*aggs)
    return cubed.select(
        *[F.coalesce(F.col(c), F.lit(ALL)).alias(c) for c in group_cols],
        "n_rows",
        *[f"sum_{name}" for name in measures],
    )


def pivot_table(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    pivot_values: list[str],
    measure: str,
) -> DataFrame:
    """Wide pivot: one row per ``row_key``, one ``sum_<value>`` column per
    (explicitly listed) pivot value, exact DECIMAL sums emitted as DOUBLE.

    The pivot value list is explicit, so the plan is ONE hash aggregate
    with conditional sums — no extra distinct-values pass, no second
    shuffle (df.pivot without values would scan twice). The oracle writes
    the same conditional aggregation with FILTER clauses.
    """
    aggs = [
        F.sum(
            F.when(F.col(pivot_col) == v, F.col(measure).cast("decimal(20,6)"))
        )
        .cast("double")
        .alias(f"sum_{v}")
        for v in pivot_values
    ]
    return df.groupBy(row_key).agg(*aggs)


def ntile_buckets(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    *,
    bucket_name: str = "bucket",
) -> DataFrame:
    """NTILE(n) over a TOTAL order (callers must include a unique tiebreak
    in ``order_cols`` — with one, bucket assignment is engine-exact).

    The window is unpartitioned; NTILE needs only rank + total count, but
    Spark evaluates it on a single partition — fine for the ranked-output
    edge this serves (bounded result), wrong for full-table bucketing at
    scale. For that, compute ceil(rank * n / cnt) from a rank window over a
    partitioned pre-sort instead.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(bucket_name, F.ntile(n).over(w))


def quantile_buckets_by_value(
    df: DataFrame,
    value_col: str,
    n: int,
    *,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Scale-path quantile bucketing (the distributed complement of
    :func:`ntile_buckets`): assign bucket ``(rows_before * n) div total + 1``
    where ``rows_before`` counts rows with a strictly smaller value — so
    ALL rows sharing a value share a bucket (ties never straddle), and the
    result is engine-exact integer arithmetic.

    Plan: one groupBy on the value (the only row-volume shuffle), a
    cumulative window over the DISTINCT-VALUES relation (single partition,
    but state is value-cardinality — bounded for scores/lengths/grades —
    never row count), and a broadcast join back onto the scan. Unlike
    NTILE, no total order over ROWS is ever materialized, so this runs at
    any row count; the tradeoff is bucket sizes wobble by the tie mass at
    each boundary.
    """
    counts = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    boundaries = counts.select(
        "_v",
        F.coalesce(F.sum("_c").over(w), F.lit(0)).alias("_before"),
        F.sum("_c").over(wt).alias("_total"),
    ).select(
        "_v",
        (
            F.least(
                F.lit(n).cast("long"),
                F.expr(f"(_before * {n}) div _total") + F.lit(1),
            )
        ).alias(bucket_name),
    )
    return df.join(
        F.broadcast(boundaries), df[value_col] == boundaries["_v"]
    ).drop("_v")


def grouped_topk_pruned(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[tuple[str, bool]],
    k: int,
) -> DataFrame:
    """Per-group top-k with MAP-SIDE pruning.

    The plain window rank + ``rk <= k`` filter: Spark ≥3.5's
    InferWindowGroupLimit rewrites this into WindowGroupLimitExec in
    PARTIAL mode BEFORE the exchange (asserted by
    tests/test_plans.py::test_grouped_topk_window_group_limit): each map
    task keeps only its local top-k per group IN THE JVM, so the shuffle
    carries ≤ k rows per (group × input partition) instead of the fact
    table — the map-side prune for free, no Python boundary.  Measured at
    sf10 (60 M lineitem rows, r12 SCALING.md): 5.2 s vs an Arrow
    per-batch prune's 25.7 s.

    Exact because the global top-k of a group is a subset of the union of
    its per-partition top-k's, PROVIDED the prune uses the same TOTAL
    order as the final rank (``order_cols`` = [(col, descending), ...]
    must be total over the emitted columns, or boundary ties can drop the
    eventual winner).
    """
    cols = df.columns
    if "rk" in cols or "rank" in cols:
        raise ValueError("input already has an 'rk'/'rank' column; rename it")
    w = Window.partitionBy(*group_cols).orderBy(
        *[(F.col(c).desc() if d else F.col(c).asc()) for c, d in order_cols]
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(*cols, F.col("rk").cast("long").alias("rank"))
    )
