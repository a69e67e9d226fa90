"""Data model: schemas + loaders.

Reference data model (SURVEY §1, /root/reference/database/01_init_db.sql:20-66):
two fact tables ``statobs (id, tfrom, statid)`` / ``seobs (id, obsid, seid,
seval)`` joined per query into a temp view ``obs_main (tfrom, statid, seid,
seval)`` (tsa/cond_collection.py:99-104), plus ``stations``/``sensors`` dims.

Spark mapping: the pre-joined **observations** relation is the canonical stored
form — the reference itself flags its narrow schema + giant fact-to-fact join
as a pain point (database/README.md:128-131); in Spark we join once at ingest
and store columnar Parquet partitioned by ``obs_date`` so time-window filters
prune partitions and the per-(statid, seid) windowing never re-joins.

The driver testdata (/root/testdata, FIXTURES.md §4) maps the ``events`` table
onto the observations shape: ts→tfrom, user_id→statid, event_type→seid (string
key — harmless to the operators), value→seval.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Canonical analysis relation (obs_main shape — cond_collection.py:99-104).
OBSERVATIONS_SCHEMA = StructType(
    [
        StructField("tfrom", TimestampType(), False),
        StructField("statid", IntegerType(), False),
        StructField("seid", IntegerType(), False),
        StructField("seval", FloatType(), False),  # NOT NULL per 01_init_db.sql:58
    ]
)

# Dimension tables (01_init_db.sql:20-40). jsonb metadata columns become
# strings; no reference query reads them (SURVEY §2.9).
STATIONS_SCHEMA = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("lotjuid", IntegerType(), True),
        StructField("name", StringType(), True),
        StructField("geom", StringType(), True),
        StructField("prop", StringType(), True),
        StructField("modified", TimestampType(), True),
    ]
)

SENSORS_SCHEMA = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("lotjuid", IntegerType(), True),
        StructField("name", StringType(), True),
        StructField("shortname", StringType(), True),
        StructField("unit", StringType(), True),
        StructField("accuracy", IntegerType(), True),
        StructField("nameold", StringType(), True),
        StructField("valuedescriptions", StringType(), True),
        StructField("description", StringType(), True),
        StructField("modified", TimestampType(), True),
    ]
)

# Raw staging shapes (02_rawdata_schema.sql:13-40); AIKA stays a string until
# the ingest transform parses it (sources/csv_ingest.py).
TIESAA_MITTATIETO_SCHEMA = StructType(
    [
        StructField("ID", LongType(), True),
        StructField("AIKA", StringType(), True),
        StructField("ASEMA_ID", IntegerType(), True),
    ]
)

ANTURI_ARVO_SCHEMA = StructType(
    [
        StructField("ID", LongType(), True),
        StructField("ANTURI_ID", IntegerType(), True),
        StructField("ARVO", FloatType(), True),
        StructField("MITTATIETO_ID", LongType(), True),
        StructField("TIEDOSTO_ID", IntegerType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _first_data_file(path: str) -> str | None:
    """The file whose footer Spark's schema inference reads for the local
    ``path``: the least full path among the files a parquet read scans.
    Hidden names (``_SUCCESS``, ``.crc``, ``_temporary``) are skipped, as
    Spark skips them."""
    if os.path.isfile(path):
        return path
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [
            os.path.join(root, n) for n in names if not n.startswith(("_", "."))
        ]
    return min(files, default=None)


# The footer key under which Spark writes a file's schema as JSON; Spark's
# inference prefers it to the parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: the
    first data file's footer is read on the driver (pyarrow) and passed
    as the schema, so only the frame's own actions run Spark jobs.
    Spark's inference reads one footer too (``mergeSchema`` is off) and
    maps it the same way: the schema Spark wrote into the footer when
    there is one, else the parquet types, timestamps without a time zone
    as TIMESTAMP_NTZ only under ``spark.sql.parquet.inferTimestampNTZ``.
    Partition columns (``key=value`` directories) are still inferred from
    the paths.  Paths pyarrow cannot read locally, and footers whose
    mapping the session decides (nanosecond timestamps, which is also how
    pyarrow reads INT96 — see :func:`load_table`) or that Spark's type
    mapping lacks, fall back to Spark's own inference."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    first = _first_data_file(path) if os.path.exists(path) else None
    if first is None:
        return spark.read.parquet(path)
    try:
        with pq.ParquetFile(first) as f:
            written = (f.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
            arrow = f.schema_arrow
        if written is not None:
            schema = StructType.fromJson(json.loads(written))
        elif any(
            pa.types.is_timestamp(c.type) and c.type.unit == "ns" for c in arrow
        ):
            return spark.read.parquet(path)
        else:
            ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
            schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz == "true")
    except (pa.ArrowException, TypeError, ValueError, KeyError, OSError):
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-testdata parquet table.

    ``events.ts`` is Parquet TIMESTAMP(NANOS); with
    spark.sql.legacy.parquet.nanosAsLong (set in session.get_spark) it arrives
    as long nanoseconds and is converted here via exact integer division
    (double math would lose precision above 2^53 ns ≈ 104 days).
    """
    # Defensive session confs for callers that didn't go through
    # session.get_spark (e.g. the driver harness's own session); both are
    # runtime-settable. UTC keeps timestamp values identical to the DuckDB
    # oracle's naive timestamps; nanosAsLong is required to read events.ts
    # (Parquet TIMESTAMP(NANOS)) at all.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) columns (events.ts, orders/
    # lineitem dates) must arrive as TIMESTAMP_LTZ, not TIMESTAMP_NTZ: the
    # range/interval operators do second-arithmetic via cast(long), which is
    # undefined on NTZ. With the UTC session TZ this is value-identical.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_small_input(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition only when the input has fewer partitions than the
    session's parallelism — the single-small-file regime (one parquet row
    group cannot be split, so an explode- or UDF-heavy pipeline downstream
    would run on ONE core no matter how many are available).

    At scale this is a structural no-op: a large scan always has at least
    as many splits as the cluster has slots, so no shuffle is added. When it
    does fire, the shuffle moves the NARROW pre-explode projection (e.g.
    (id, text)), which is many times smaller than the exploded relation the
    parallelism unlocks. With ``key``, hash-partitions on that column so a
    downstream groupBy(key) reuses the exchange instead of adding one.

    Only scan-shaped plans are probed: reading ``df.rdd`` under AQE
    materializes query stages when the plan contains exchanges (a join /
    aggregate input would execute EAGERLY just to report a partition
    count), so for any plan with wide operators this returns ``df``
    unchanged — callers spread the source projection, not the join."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if any(tok in plan for tok in ("Join", "Aggregate", "Repartition", "Window", "Sort")):
        return df
    # Scan-only plan: no exchanges, so AQE leaves it alone and .rdd stays lazy.
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def load_observations_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver ``events`` table onto the observations shape.

    Keeps the original string ``event_type`` as the sensor key (FIXTURES.md §4:
    "string key instead of int — harmless to the operators"). Column names
    follow obs_main (cond_collection.py:99-104).
    """
    return load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("tfrom"),
        F.col("user_id").alias("statid"),
        F.col("event_type").alias("seid"),
        F.col("value").alias("seval"),
    )


def write_observations(df: DataFrame, path: str, mode: str = "append") -> None:
    """Persist observations partitioned by date for partition pruning.

    Replaces the reference's TimescaleDB hypertable chunking on ``tfrom``
    (01_init_db.sql:50): a time-window filter (P1) prunes date partitions at
    plan time; within a file, Parquet min/max stats skip row groups. An audit
    ``modified`` column replaces the update trigger (01_init_db.sql:68-88) —
    Spark writes are immutable, so a write-time stamp is sufficient.
    """
    (
        df.withColumn("obs_date", F.to_date("tfrom"))
        .withColumn("modified", F.current_timestamp())
        .write.mode(mode)
        .partitionBy("obs_date")
        .parquet(path)
    )


def write_observations_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = 64,
    bucket_cols: tuple[str, ...] = ("statid", "seid"),
) -> None:
    """Hash-clustered (bucketed) observation store: co-located joins and
    aggregations on the bucket key read WITHOUT a shuffle.

    The reference's repeated `statobs ⋈ seobs`-shaped joins and the
    per-(statid, seid) packing aggregation all key on the same columns;
    bucketing both sides by them turns every such exchange into a local
    zipped-partition read (asserted in test_plans.py). At 100 TB pick
    ``n_buckets`` ≳ cluster cores so each bucket stays executor-sized;
    buckets also prune single-key lookups (Spark plans a one-bucket scan
    for an equality filter on the bucket column set)."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table_name)
    )
