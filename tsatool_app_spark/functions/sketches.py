"""Approximate-cardinality sketches with exact twins.

The 100 TB pattern for COUNT(DISTINCT) rollups is NOT a giant exact
distinct (that shuffles every key) but a mergeable sketch: build one small
HLL sketch per partition/day map-side, then union sketches — the shuffle
carries kilobytes per group instead of the key universe.  Spark 4 ships
Apache DataSketches HLL natively (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate`), so the whole pipeline stays JVM-side.

Evidence policy (same as the ANN variants): the approximate operator is
pytest-verified against its exact twin within the sketch's error bound;
the exact twin is the driver-visible, hash-checked query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_distinct_by_group(
    df: DataFrame, group_cols: Sequence[str], col: str
) -> DataFrame:
    """Exact per-group distinct count.  Spark plans this as a two-level
    aggregate (partial distinct per partition, then merge), so duplicate
    keys collapse map-side before the shuffle."""
    return (
        df.groupBy(*group_cols)
        .agg(F.count_distinct(F.col(col)).alias("n_distinct"))
        .orderBy(*group_cols)
    )


def hll_rollup(
    df: DataFrame,
    fine_cols: Sequence[str],
    coarse_cols: Sequence[str],
    col: str,
    lg_k: int = 14,
) -> DataFrame:
    """The mergeability property end-to-end: build fine-grain sketches
    (e.g. per day), then UNION them to coarse groups (e.g. per week)
    without touching the raw data again — the continuous-aggregate shape
    for distinct counts.  Returns one row per coarse group with the
    merged estimate."""
    fine = df.groupBy(*fine_cols).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("sketch")
    )
    return (
        fine.groupBy(*coarse_cols)
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
                "n_distinct_est"
            )
        )
        .orderBy(*coarse_cols)
    )


# ---------------------------------------------------------------------------
# Count-min sketch (portable md5 bucket hashing)
# ---------------------------------------------------------------------------

def _cms_bucket(col: Column, row: int, width: int) -> Column:
    """Bucket index for sketch row ``row``: md5 of the seeded value, first
    8 hex chars as an int, mod width.  md5 is available and bit-identical
    in every engine (Spark, DuckDB, Postgres), so a sketch built here can
    be probed — or rebuilt — anywhere."""
    h = F.md5(F.concat(F.lit(f"cms{row}|"), col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).cast("int")


def cms_build(
    df: DataFrame, col: str, *, width: int = 256, depth: int = 4
) -> DataFrame:
    """Count-min sketch of a column as a (row, bucket, cnt) table —
    depth × width counters, mergeable by simple SUM (the reason sketches
    beat exact counts at 100 TB: per-partition partial sketches collapse
    map-side, the shuffle carries depth·width rows total, never the key
    universe; two days' sketches union by summing cells).

    One wide explode (depth rows per input row) then ONE groupBy with
    map-side combine."""
    rows = F.array(*[
        F.struct(F.lit(r).alias("row"), _cms_bucket(F.col(col), r, width).alias("bucket"))
        for r in range(depth)
    ])
    return (
        df.select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, col: str, *, width: int = 256, depth: int = 4
) -> DataFrame:
    """Point estimates for the probe keys: min over rows of the key's
    bucket counter.  Guarantees est >= true count (never undercounts);
    overcount bounded by collisions ~ n/width per row.

    The sketch is depth·width rows — BROADCAST it; probing is a map-side
    join however large the probe set is."""
    probed = probes.select(
        F.col(col).alias("key"),
        F.explode(F.array(*[
            F.struct(
                F.lit(r).alias("row"),
                _cms_bucket(F.col(col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ])).alias("rb"),
    ).select("key", "rb.row", "rb.bucket")
    joined = probed.join(F.broadcast(sketch), ["row", "bucket"], "left").na.fill(
        {"cnt": 0}
    )
    return (
        joined.groupBy("key")
        .agg(F.min("cnt").cast("long").alias("est"))
        .orderBy("key")
    )
