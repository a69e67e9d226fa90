"""Streaming condition analysis: live validity summaries per micro-batch.

The full condition pipeline (pack → align → Kleene master → rollup) is not
order-incremental in general — a late observation can re-split ranges far
in the past (gap-bridging W5 means a run's extent is unbounded). The
production-standard pattern for such non-incremental analytics is
``foreachBatch`` incremental refresh: each micro-batch appends to the
observation store, then the batch engine recomputes the affected summaries
and upserts them into a results sink. Correctness equals the batch engine
by construction (it IS the batch engine); cost is bounded by re-running
over the windowed store, which date-partition pruning keeps proportional
to the analysis window, not history.

The truly-incremental per-sensor packing (closed-run emission) lives in
pack_ranges_stream; use that when per-block ranges are the product. Use
this when per-CONDITION summaries are the product.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from tsatool_app_spark.runner import CondCollection


def streaming_condition_analysis(
    obs_stream: DataFrame,
    collection: CondCollection,
    store_path: str,
    *,
    sensor_name_to_id: dict[str, int] | None = None,
    checkpoint: str | None = None,
    on_summary: Callable[[str, DataFrame], None] | None = None,
):
    """Start a foreachBatch query: append each micro-batch to ``store_path``
    and recompute the collection's summaries over the full store.

    ``on_summary(condition_id, summary_df)`` is invoked per refreshed
    condition each micro-batch (default: no-op, summaries queryable from
    the returned handle's last results via the store). Each
    ``summary_df`` is a view that plans from the store: nothing is
    computed until the callback reads it, and a batch pins no partitions.
    Returns the StreamingQuery handle.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df.write.mode("append").parquet(store_path)
        obs = spark.read.parquet(store_path)
        results = collection.run(obs, sensor_name_to_id=sensor_name_to_id)
        if on_summary is not None:
            for cid, res in results.items():
                if res.summary is not None:
                    on_summary(cid, res.summary)

    writer = obs_stream.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
