"""Structured Streaming surface.

The reference is strictly batch (SURVEY §2.10) — the streaming path is the
rebuild's extension per the declared approach ("Structured Streaming +
DataFrame time-series ops"). Semantics decisions the batch engine never had
to make, fixed here:

- late data beyond the watermark is dropped (windowed aggs); pack_ranges
  sorts each micro-batch by event time, and a cross-batch late row (event
  time <= the pending observation already in state) is dropped — state never
  rewinds, so no inverted (vuntil < vfrom) run can be stored or emitted;
- run-packing state is per (statid, seid): the last unclosed observation and
  the currently open run. A run is emitted when a different-valued run
  replaces it — identical to the batch gaps-and-islands merge, including the
  value-only (gap-bridging) merge rule (01_init_db.sql:157-199);
- the final open run per key is emitted only at state timeout/end-of-stream,
  because its extent can still grow (exactly like the batch last-row drop,
  W1: an observation with no successor contributes nothing yet).

State is one tiny tuple per sensor key — ~10⁵ keys × ~40 bytes in the state
store; trivially sharded by the shuffle on the grouping key, so a
1000-executor cluster streams all sensors concurrently.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from tsatool_app_spark.model import OBSERVATIONS_SCHEMA

_SENT_UNKNOWN = -1


def stream_observations(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """File-source observation stream in the obs_main shape (swap for Kafka
    in production — the downstream plan is identical). ``schema`` defaults
    to the reference store shape (int seid); pass the events-as-observations
    schema (string seid) to stream the driver workload."""
    reader = spark.readStream.schema(schema or OBSERVATIONS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


_OUT_SCHEMA = StructType(
    [
        StructField("statid", IntegerType()),
        StructField("seid", IntegerType()),
        StructField("vfrom", TimestampType()),
        StructField("vuntil", TimestampType()),
        StructField("istrue", BooleanType()),
    ]
)

# (pending_t µs, pending_sent, run_from µs, run_until µs, run_sent, has_*)
_STATE_SCHEMA = StructType(
    [
        StructField("pending_t", LongType()),
        StructField("pending_sent", IntegerType()),
        StructField("run_from", LongType()),
        StructField("run_until", LongType()),
        StructField("run_sent", IntegerType()),
        StructField("has_pending", BooleanType()),
        StructField("has_run", BooleanType()),
    ]
)


def _make_packer(
    max_minutes: int, operator: str, value: Any, inactivity_timeout_ms: int | None
):
    """Build the per-group state-update function for applyInPandasWithState.

    The predicate is evaluated in pandas (vectorized per micro-batch); the
    run-merge logic mirrors ranges.pack_ranges_all_keys exactly.
    """
    from tsatool_app_spark.operators.ranges import SUPPORTED_OPERATORS

    cap_us = int(max_minutes) * 60 * 1_000_000
    op = operator.strip().lower()
    if op not in SUPPORTED_OPERATORS:
        raise ValueError(f"unsupported operator {operator!r}")

    def predicate(vals: pd.Series) -> pd.Series:
        if op == "in":
            return vals.isin([float(v) for v in value])
        import operator as _o

        fn = {
            "=": _o.eq, "<>": _o.ne, ">": _o.gt,
            "<": _o.lt, ">=": _o.ge, "<=": _o.le,
        }[op]
        return fn(vals, float(value))

    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        statid, seid = key
        if state.exists:
            (pt, ps, rf, ru, rs, has_pending, has_run) = state.get
        else:
            pt = ps = rf = ru = rs = 0
            has_pending = has_run = False

        closed: list[tuple] = []

        def close_run():
            nonlocal has_run
            if has_run:
                closed.append((rf, ru, rs))
                has_run = False

        if state.hasTimedOut:
            # end-of-activity flush: emit the open run (provisional final)
            close_run()
            state.remove()
        else:
            rows = pd.concat(list(pdf_iter), ignore_index=True)
            rows = rows.sort_values("tfrom")
            ts = rows["tfrom"].astype("int64") // 1000  # ns → µs
            sents = predicate(rows["seval"]).map(lambda b: 1 if b else 0).astype("int64")

            for t_us, s in zip(ts.tolist(), sents.tolist()):
                # Cross-batch late data: rows are sorted within a micro-batch,
                # but a row in a LATER batch can still carry t <= the pending
                # observation's t. Processing it would produce an inverted run
                # (vuntil = min(t, pt+cap) < vfrom). Semantic pinned here:
                # such late rows are DROPPED — same family as the watermark
                # rule used by the windowed aggs (late data does not rewrite
                # emitted or in-flight state).
                if has_pending and t_us <= pt:
                    continue
                if has_pending:
                    # pending obs interval = [pt, min(t, pt+cap)) (W1+W2)
                    vuntil = min(t_us, pt + cap_us)
                    if has_run and rs == ps:
                        ru = max(ru, vuntil)  # extend (gap-bridging merge W5)
                    else:
                        close_run()
                        rf, ru, rs = pt, vuntil, ps
                        has_run = True
                pt, ps = t_us, s
                has_pending = True

            state.update((pt, ps, rf, ru, rs, has_pending, has_run))
            if inactivity_timeout_ms is not None:
                state.setTimeoutDuration(inactivity_timeout_ms)

        if closed:
            out = pd.DataFrame(
                closed, columns=["vfrom_us", "vuntil_us", "sent"]
            )
            yield pd.DataFrame(
                {
                    "statid": statid,
                    "seid": seid,
                    "vfrom": pd.to_datetime(out["vfrom_us"], unit="us"),
                    "vuntil": pd.to_datetime(out["vuntil_us"], unit="us"),
                    "istrue": out["sent"].map(
                        {1: True, 0: False, _SENT_UNKNOWN: None}
                    ),
                }
            )

    return update


def pack_ranges_stream(
    obs_stream: DataFrame,
    max_minutes: int,
    operator: str,
    value: Any,
    *,
    key_cols: tuple[str, str] = ("statid", "seid"),
    inactivity_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming pack_ranges: stateful run packing keyed by sensor.

    Returns an append-mode stream of CLOSED runs (statid, seid, vfrom,
    vuntil, istrue). The open run per key stays in state until a
    different-valued run closes it; with ``inactivity_timeout_ms`` set, an
    idle key's open run is flushed provisionally after that much processing
    time (recommended in production; left off by default so results are
    deterministic and exactly batch-equivalent)."""
    packer = _make_packer(max_minutes, operator, value, inactivity_timeout_ms)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if inactivity_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return obs_stream.groupBy(*key_cols).applyInPandasWithState(
        packer,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_dedup(
    obs_stream: DataFrame,
    pk: list[str],
    *,
    time_col: str = "tfrom",
    watermark: str = "30 minutes",
) -> DataFrame:
    """S5's upsert-ignore semantics on a stream: drop PK duplicates with
    state bounded by the watermark (dropDuplicatesWithinWatermark — exact
    within the lateness horizon, state evicted beyond it; unbounded-state
    exact dedup would OOM on an infinite stream)."""
    return obs_stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        pk
    )


def streaming_sessionize(
    obs_stream: DataFrame,
    gap_minutes: int = 30,
    *,
    key_col: str = "statid",
    time_col: str = "tfrom",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming counterpart of operators.summary.sessionize: native
    ``session_window`` sessions (gap-merged in the state store, watermark-
    bounded) instead of the batch gaps-and-islands window pass.

    Semantics note vs batch: Spark's session window END is
    ``last event + gap`` (the dynamic window extent), where the batch
    sessionize reports ``session_end = max(ts)``; so
    ``window.end == batch session_end + gap`` exactly. session_start and
    n_events agree. Sessions are emitted (append mode) once the watermark
    passes their end."""
    from pyspark.sql import functions as F

    w = F.session_window(time_col, f"{gap_minutes} minutes")
    return (
        obs_stream.withWatermark(time_col, watermark)
        .groupBy(w.alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_observation_counts(
    obs_stream: DataFrame,
    *,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    time_col: str = "tfrom",
    key_cols: tuple[str, str] = ("statid", "seid"),
) -> DataFrame:
    """Streaming A1: per-sensor windowed counts with late-data handling.

    Watermarked tumbling window — data later than the watermark is dropped
    (the semantic the batch reference never defines, pinned here)."""
    from pyspark.sql import functions as F

    return (
        obs_stream.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("obs_count"),
            F.min("seval").alias("min_val"),
            F.max("seval").alias("max_val"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *key_cols,
            "obs_count",
            "min_val",
            "max_val",
        )
    )
