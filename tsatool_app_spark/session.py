"""SparkSession factory with scale-aware defaults.

The reference pins all execution to one PostgreSQL connection per sheet
(tsa/analysis_collection.py:211-220); here every query is a lazy Spark DAG and
parallelism comes from partitioning. Defaults below are tuned so the same code
runs on local[N] for tests and on a large cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace any hand-tuning per scale factor.
- Arrow on: all pandas interchange (reporting edge, pandas UDFs) is batched.
- Session timezone UTC: parquet timestamps compare bit-identically with the
  DuckDB oracle; the reference's Europe/Helsinki semantics are applied
  explicitly at ingest/bucketing sites (see sources/csv_ingest.py), never
  implicitly via session state.
- Generated-class cache sized to the pipelines: a repeated plan compiles
  each of its generated classes once per session, not on every repeat
  (measured class counts at the config).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """~25% of system memory, clamped to [2g, 32g]. Reads /proc/meminfo
    (Linux); falls back to a conservative 8g where it is absent."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(32, max(2, total_gb // 4))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "tsatool_app_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master``/``shuffle_partitions`` default from env (SPARK_GRAFT_CPUS) so
    tests, bench.py, and the driver harness share one code path. On a real
    cluster, pass ``master=None`` with spark-submit providing the master.

    An active session is returned as it is: the defaults and ``extra_conf``
    apply only when a session is built. (The builder's getOrCreate would
    re-apply every runtime option to the live session, undoing what its
    first caller set.)
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): byte-based
        # coalescing (parallelismFirst=false, coalesce to the 64 MB
        # advisory) collapses a ~150 MB hi-cardinality aggregation shuffle
        # to 2-3 reducers and serializes the final hash agg — bytes
        # underestimate CPU when cost is per-KEY, not per-byte.  Fresh-
        # session A/B at sf1 (6 M lineitem): every data-bound TPC-H head
        # 2.5-4x faster with the default (shipping_priority 4.72 -> 1.42 s,
        # waiting_suppliers 5.58 -> 1.79 s, large_volume_orders
        # 5.56 -> 2.05 s) and NO small-query penalty (nation_balance_share
        # 0.79 vs 0.82 s) — the earlier-round claim that false bought
        # 25-40% off small queries did not reproduce.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Every bucketed table here is bucketed DELIBERATELY (the
        # observation store on (statid, seid), the IVF index on cluster);
        # auto-bucketed-scan would silently fall back to a plain scan when
        # no join/agg wants the distribution, losing bucket PRUNING on
        # probe-shaped reads (nprobe IN-filters) — keep bucketed scans on.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: keep file-split sizing explicit so partition count
        # scales with data volume, not file count.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Driver testdata stores events.ts as Parquet TIMESTAMP(NANOS), which
        # Spark's reader rejects; read as long nanos and convert in the loader
        # (model.load_table) with exact integer division.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata timestamps are TIMESTAMP(MICROS, isAdjustedToUTC=
        # false); Spark 4 would infer TIMESTAMP_NTZ, which cannot be cast to
        # numeric (the ranges/combine operators do second-arithmetic via
        # cast(long)). Read them as TIMESTAMP_LTZ instead — with the session
        # TZ pinned to UTC above, the wall-clock values stay bit-identical to
        # DuckDB's naive timestamps, so oracle hashes are unaffected.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local-mode heap: the single JVM holds every localCheckpoint block
        # of whichever pipeline is running; 8g forced GC thrash on the
        # 130-query board and OOM'd the 100x rehearsal (60 M-row inputs).
        # Default to ~25% of DETECTED system memory (capped at 32g, floored
        # at 2g) instead of a hardcoded 32g — on smaller hosts a fixed 32g
        # heap grows toward the OS OOM-killer instead of spilling. Cluster
        # deployments size executors via spark-submit and ignore this.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        # Generated-class cache (a static conf).  Spark's 100 entries are
        # fewer than the classes one operation compiles, so every repeat of
        # an unchanged plan (a stream's micro-batches, the CLI re-run over a
        # workbook) evicted and recompiled all of them: 0.5-0.7 s of a
        # 2.5-3.2 s warm operation.  Compiles per operation at Spark's
        # defaults, cold -> warm (4 cores): e2ebench sheet_report 192 -> 180,
        # corpus_mix 212 -> 201, the registry's 10-condition sheet_workload
        # 191 -> 172, and the largest repeated unit, a 2-sheet
        # e2ebench/gen.py workbook through the CLI, 362 -> 347 (212 distinct
        # classes).  With the two settings below: 138, 172, 114 and 150
        # cold, 0 warm (now and then 2-3, when AQE picks another join
        # strategy by stage timing).  Guava splits the capacity over 4
        # segments and evicts LRU within each one, so the value is ~4.7x the
        # largest unit, not just above it.  Evicted classes are not
        # unloaded, so the bigger cache loads fewer classes, not more.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # No stage number in whole-stage class names: AQE numbers stages
        # in the order it plans them, which varies between runs of one
        # plan, and a renumbered class misses the cache (sheet_workload
        # made 2-26 such compiles per warm operation).
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
