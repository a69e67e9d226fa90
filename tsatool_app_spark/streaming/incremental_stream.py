"""Streaming continuous aggregates: fold micro-batches into a persistent
partial-aggregate snapshot (the TimescaleDB continuous-aggregate shape,
and the streaming face of operators/incremental.py).

Each micro-batch is reduced to mergeable partials (count / DECIMAL sum /
min / max per key) and folded into a parquet snapshot via
``merge_partials``; readers call ``finalize_aggregate`` on the snapshot at
any time for an exactly-consistent view of everything ingested so far.
Because the partials form a commutative monoid, the result is independent
of micro-batch boundaries and arrival order — asserted against a batch
recompute in tests/test_streaming.py.

Scale notes: per batch, the only wide stage is the partial aggregation of
the BATCH (map-side combined); the snapshot merge then touches rows
proportional to the KEY cardinality, never re-reading raw history. The
snapshot publishes through the versioned pointer-file store
(streaming/snapshot_store.py): a crash at any instant leaves the previous
committed version intact and readable — the earlier two-rename directory
swap had a window where a crash silently emptied the store. On a cluster
the snapshot would live in a transactional table format; the store keeps
the same contract with plain parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tsatool_app_spark.operators.incremental import merge_partials, partial_aggregate
from tsatool_app_spark.streaming.snapshot_store import (
    publish_snapshot,
    read_snapshot,
)


def fold_batch_into_snapshot(
    batch_df: DataFrame,
    snapshot_path: str,
    keys: list[str],
    value_col: str,
    *,
    moments_scale: int | None = None,
) -> None:
    """Reduce one batch to partials and fold it into the versioned
    snapshot (creating the store on first use). Driver-side file juggling
    only touches snapshot METADATA (the pointer file); data stays
    distributed. ``moments_scale`` additionally maintains exact power-sum
    moments in the snapshot (see operators/incremental.partial_aggregate)."""
    spark = batch_df.sparkSession
    batch_partials = partial_aggregate(
        batch_df, keys, value_col, moments_scale=moments_scale
    )
    current = read_snapshot(spark, snapshot_path)
    if current is not None:
        merged = merge_partials(current, batch_partials)
    else:
        merged = merge_partials(batch_partials)
    publish_snapshot(merged, snapshot_path)


def streaming_incremental_rollup(
    stream_df: DataFrame,
    snapshot_path: str,
    *,
    keys: list[str],
    value_col: str,
    checkpoint: str,
    moments_scale: int | None = None,
):
    """Start a foreachBatch query maintaining a continuous per-key
    aggregate snapshot at ``snapshot_path``. Returns the StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fold_batch_into_snapshot(
            batch_df, snapshot_path, keys, value_col, moments_scale=moments_scale
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
