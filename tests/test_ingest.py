"""Ingestion tests (entry point 3): pipe-CSV staging → cleansing → id
translation → dedup → observations. Fixture shapes from FIXTURES.md §2 /
reference database/example_data samples."""

from __future__ import annotations

import pytest

from tsatool_app_spark.sources import (
    build_observations,
    dedup_insert,
    ingest_month,
    populate_seobs,
    populate_statobs,
    read_staging_csv,
    sensor_name_to_id,
)

MITTATIETO = """\"ID\"|\"AIKA\"|\"ASEMA_ID\"
420958436|01.03.2018 02:09:00,000000000|1
420958437|01.03.2018 02:14:00,000000000|1
420958437|01.03.2018 02:14:00,000000000|1
420958438|25.03.2018 04:30:00,000000000|1
420958439|01.03.2018 02:09:00,000000000|2
|01.03.2018 02:19:00,000000000|1
420958440||1
420958441|01.03.2018 02:24:00,000000000|99
"""

ANTURI = """\"ID\"|\"ANTURI_ID\"|\"ARVO\"|\"MITTATIETO_ID\"|\"TIEDOSTO_ID\"
23855559698|18|275|420958436|
23855559699|18|276|420958437|
23855559699|18|276|420958437|
23855559700|19|-1.5|420958436|
23855559701|18||420958438|
23855559702|99|5|420958436|
"""


@pytest.fixture(scope="module")
def staging_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("lotju")
    m = d / "mittatieto.csv"
    a = d / "anturi.csv"
    m.write_text(MITTATIETO)
    a.write_text(ANTURI)
    return str(m), str(a)


@pytest.fixture(scope="module")
def dims(spark):
    stations = spark.createDataFrame(
        [(1115, 1, "vt1_Sipoo"), (1120, 2, "vt2_Espoo")], "id int, lotjuid int, name string"
    )
    sensors = spark.createDataFrame(
        [(3, 18, '"TIE_1"'), (27, 19, '"KELI_1"')], "id int, lotjuid int, name string"
    )
    return stations, sensors


def test_populate_statobs(spark, staging_files, dims):
    m_csv, _ = staging_files
    stations, _ = dims
    staging = read_staging_csv(spark, m_csv, "tiesaa_mittatieto")
    out = populate_statobs(staging, stations).orderBy("tfrom", "statid").collect()
    # 8 raw rows: 1 exact dup dropped, 1 null-ID dropped, 1 null-time
    # dropped, 1 unknown station (lotjuid 99) dropped by inner join → 4
    assert len(out) == 4
    # Helsinki winter (UTC+2): 02:09 local → 00:09 UTC
    assert str(out[0].tfrom) == "2018-03-01 00:09:00"
    assert out[0].statid in (1115, 1120)
    # DST boundary day: 04:30 local is EEST (UTC+3) after the 03:00→04:00
    # spring-forward switch → 01:30 UTC
    late = [r for r in out if r.tfrom.month == 3 and r.tfrom.day == 25]
    assert str(late[0].tfrom) == "2018-03-25 01:30:00"


def test_populate_seobs(spark, staging_files, dims):
    _, a_csv = staging_files
    _, sensors = dims
    staging = read_staging_csv(spark, a_csv, "anturi_arvo")
    out = populate_seobs(staging, sensors).orderBy("obsid", "seid").collect()
    # 6 raw rows: 1 dup dropped, 1 null-value dropped, 1 unknown sensor → 3
    assert len(out) == 3
    assert {(r.obsid, r.seid) for r in out} == {
        (420958436, 3),
        (420958436, 27),
        (420958437, 3),
    }
    assert [r.seval for r in out if r.seid == 27] == [-1.5]


def test_ingest_month_end_to_end(spark, staging_files, dims, tmp_path):
    m_csv, a_csv = staging_files
    stations, sensors = dims
    out_path = str(tmp_path / "obs.parquet")
    obs = ingest_month(
        spark,
        mittatieto_csv=m_csv,
        anturi_csv=a_csv,
        stations=stations,
        sensors=sensors,
        out_path=out_path,
    )
    rows = obs.orderBy("tfrom", "seid").collect()
    # observations = statobs ⋈ seobs on id=obsid: headers 420958436/437 match
    assert len(rows) == 3
    persisted = spark.read.parquet(out_path)
    assert persisted.count() == 3
    assert "obs_date" in persisted.columns and "modified" in persisted.columns


def test_dedup_insert_on_conflict_do_nothing(spark):
    existing = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    new = spark.createDataFrame([(2, 99), (3, 30), (3, 31)], "k int, v int")
    out = dedup_insert(new, existing, ["k"]).collect()
    assert len(out) == 1  # k=2 conflicts, k=3 dup collapses to first
    assert out[0].k == 3


def test_sensor_name_to_id(spark, dims):
    _, sensors = dims
    assert sensor_name_to_id(sensors.collect()) == {"tie_1": 3, "keli_1": 27}


#: Sensor metadata as a careless export writes it: quoted and unquoted
#: names, a backslash-escaped and a bare embedded quote, blank and
#: whitespace-only lines, non-integer and out-of-range ids, a short row,
#: an extra column, empty fields and a delimiter inside quotes.
HOSTILE_METADATA = """3|18|"TIE_1"
27|19|KELI_1

x7|20|"bad id"
8|21
9|22|"EXTRA"|more
11|24|A"B
12|25|"A\\"B"
13|26|
14|27|""
 15|28| spaced 
16||"no lotju"
99999999999|31|big
+19|32|plus
   
20|33|"two|part"
"""


def test_read_metadata_csv_matches_spark(spark, tmp_path):
    """The stdlib metadata reader returns what Spark's CSV reader returns
    for the same schema and options, row for row."""
    from tsatool_app_spark.sources.metadata import read_metadata_csv

    path = tmp_path / "sensors.csv"
    path.write_text(HOSTILE_METADATA)
    oracle = spark.read.csv(
        str(path), sep="|", header=False, schema="id int, lotjuid int, name string"
    ).collect()
    rows = read_metadata_csv(str(path))
    assert [tuple(r) for r in rows] == [tuple(r) for r in oracle]
    assert len(rows) == 14
    assert sensor_name_to_id(rows) == sensor_name_to_id(oracle)


def test_read_parquet_footer_schema_equals_spark(spark, sf_dir, tmp_path):
    """model.read_parquet takes the schema from the first data file's
    footer: the same schema as Spark's own inference, for every testdata
    table, a Spark-written part-file directory, a date-partitioned store
    and a pyarrow-written file, under both NTZ inference settings, and no
    Spark job."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsatool_app_spark.model import read_parquet

    parts = str(tmp_path / "parts")
    spark.range(0, 40, 1, 3).selectExpr(
        "id",
        "CAST(id AS INT) AS i",
        "id * 0.5D AS x",
        "CAST(id AS STRING) AS s",
        "timestamp_seconds(id) AS ts",
        "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ts_ntz",
        "CAST(id AS DECIMAL(10, 2)) AS d",
        "array(id, id + 1) AS arr",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
    ).write.parquet(parts)
    dated = str(tmp_path / "dated")
    spark.range(0, 30).selectExpr(
        "CAST(id AS INT) AS statid",
        "CAST(id AS FLOAT) AS seval",
        "date_add(DATE'2024-03-30', CAST(id % 3 AS INT)) AS obs_date",
    ).write.partitionBy("obs_date").parquet(dated)

    # a footer without Spark's schema: a tz-less timestamp maps by the
    # session's NTZ inference setting
    naive = str(tmp_path / "naive.parquet")
    pq.write_table(
        pa.table({"t": pa.array([0, 1], pa.timestamp("us")), "n": [1, 2]}), naive
    )

    sc = spark.sparkContext
    paths = sorted(glob.glob(f"{sf_dir}/*.parquet")) + [parts, dated, naive]
    assert len(paths) > 3
    ntz_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    ntz = spark.conf.get(ntz_key)
    try:
        for infer_ntz, path in [(ntz, p) for p in paths] + [
            ("true", parts), ("true", naive)
        ]:
            spark.conf.set(ntz_key, infer_ntz)
            sc.setJobGroup("read-parquet-footer", "read-parquet-footer")
            try:
                got = read_parquet(spark, path)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert got.schema == spark.read.parquet(path).schema, (path, infer_ntz)
    finally:
        spark.conf.set(ntz_key, ntz)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("read-parquet-footer")) == []
    assert read_parquet(spark, dated).where("obs_date = DATE'2024-04-01'").count() == 10


def test_parse_finnish_timestamp_dst_edges(spark):
    """P6 DST semantics pinned (02_rawdata_schema.sql:46-57 reads Helsinki
    local time): spring-forward GAP times (2018-03-25 03:00-03:59:59 don't
    exist) are shifted forward by the gap (java.time resolution — 03:30 is
    read as 04:30 EEST); fall-back FOLD times (2018-10-28 03:00-03:59:59
    occur twice) resolve to the EARLIER offset (EEST, +03)."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.sources.csv_ingest import parse_finnish_timestamp

    rows = [
        ("25.03.2018 02:59:59,000000000", "2018-03-25 00:59:59"),  # last EET s
        ("25.03.2018 03:30:00,000000000", "2018-03-25 01:30:00"),  # gap → +1h
        ("25.03.2018 04:00:00,000000000", "2018-03-25 01:00:00"),  # first EEST s
        ("28.10.2018 02:30:00,000000000", "2018-10-27 23:30:00"),  # pre-fold EEST
        ("28.10.2018 03:30:00,000000000", "2018-10-28 00:30:00"),  # fold → earlier (+3)
        ("28.10.2018 04:30:00,000000000", "2018-10-28 02:30:00"),  # post-fold EET
    ]
    df = spark.createDataFrame([(a,) for a, _ in rows], "aika string").select(
        "aika", parse_finnish_timestamp(F.col("aika")).alias("utc")
    )
    got = {r.aika: str(r.utc) for r in df.collect()}
    for aika, expected in rows:
        assert got[aika] == expected, f"{aika}: {got[aika]} != {expected}"
    # ordering is preserved across the spring gap: 02:59:59 < (03:30→) 01:30?
    # NO — the gap shift can reorder raw rows that straddle it; the engine
    # relies on event-time sort AFTER parsing (prepare_stepped_obs), which
    # this documents.


def test_observation_summary_month_in_helsinki_tz(spark):
    """P8: month extraction is LOCAL (Europe/Helsinki), not UTC — a UTC
    March-31-evening observation lands in April, and the fall DST switch
    keeps October rows in October."""
    from datetime import datetime

    from tsatool_app_spark.operators.summary import observation_summary

    rows = [
        # UTC 2018-03-31 22:30 → Helsinki 2018-04-01 01:30 EEST → month 4
        (datetime(2018, 3, 31, 22, 30), 1, 3, 1.0),
        # UTC 2018-03-31 12:00 → Helsinki same day → month 3
        (datetime(2018, 3, 31, 12, 0), 1, 3, 1.0),
        # UTC 2018-10-31 22:30 → Helsinki 2018-11-01 00:30 EET → month 11
        (datetime(2018, 10, 31, 22, 30), 1, 3, 1.0),
    ]
    obs = spark.createDataFrame(
        rows, "tfrom timestamp, statid int, seid int, seval float"
    )
    out = {r.obs_month: r.obs_count for r in observation_summary(obs).collect()}
    assert out == {3: 1, 4: 1, 11: 1}


def test_jsonl_round_trip_and_corrupt_quarantine(spark, tmp_path):
    """JSONL sink→source round trip preserves values; malformed lines are
    quarantined, not dropped silently and not fatal."""
    import gzip
    import os

    from tsatool_app_spark.sources.jsonl import (
        corrupt_records,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}", None if i % 3 else "en") for i in range(50)],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, shards=4)
    # gzip shards, one per requested shard
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 4
    assert all(f.endswith(".gz") for f in parts)

    back = read_jsonl(spark, out, "doc_id long, text string, lang string")
    got = {r.doc_id: (r.text, r.lang) for r in back.collect()}
    assert got == {i: (f"text {i}", None if i % 3 else "en") for i in range(50)}

    # corrupt a shard: append garbage + a schema-violating line
    bad = str(tmp_path / "mixed")
    os.makedirs(bad)
    with gzip.open(os.path.join(bad, "part-x.json.gz"), "wt") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en"}\n')
        f.write("not json at all\n")
        f.write('{"doc_id": "NaNope", "text": 3}\n')
    good = read_jsonl(spark, bad, "doc_id long, text string, lang string")
    assert [r.doc_id for r in good.collect()] == [1]
    quarantined = corrupt_records(
        spark, bad, "doc_id long, text string, lang string"
    )
    # full-row materialization (a corrupt-only scan is disallowed by Spark;
    # .count() would prune down to exactly that — see sources/jsonl.py)
    rows = quarantined.collect()
    assert len(rows) == 2
    assert any("not json at all" in r._corrupt_record for r in rows)


def test_jsonl_good_path_prunable_and_parity(spark, tmp_path):
    """The good-path frame must survive column-pruned plans (.count/.isEmpty)
    — the corrupt-column-only restriction must not leak to callers — and
    good + quarantined must partition the input exactly."""
    import gzip
    import os

    from tsatool_app_spark.sources.jsonl import corrupt_records, read_jsonl

    d = str(tmp_path / "in")
    os.makedirs(d)
    with gzip.open(os.path.join(d, "p.json.gz"), "wt") as f:
        f.write('{"doc_id": 1, "text": "a"}\n')
        f.write("garbage\n")
        f.write('{"doc_id": 2, "text": "b"}\n')
        f.write("{broken\n")
    schema = "doc_id long, text string"
    good = read_jsonl(spark, d, schema)
    assert good.count() == 2           # would raise before the DROPMALFORMED fix
    assert not good.isEmpty()
    n_bad = len(corrupt_records(spark, d, schema).collect())
    assert good.count() + n_bad == 4


def test_ingest_jsonl_one_pass_split(spark, tmp_path):
    """Single-scan ingest: good rows and quarantine written together,
    partition-separated, and both readable without restrictions."""
    import gzip
    import os

    from tsatool_app_spark.sources.jsonl import ingest_jsonl

    d = str(tmp_path / "in")
    os.makedirs(d)
    with gzip.open(os.path.join(d, "p.json.gz"), "wt") as f:
        f.write('{"doc_id": 1, "text": "a"}\n')
        f.write("garbage line\n")
        f.write('{"doc_id": 2, "text": "b"}\n')
    good, bad = ingest_jsonl(
        spark, d, "doc_id long, text string", str(tmp_path / "out")
    )
    assert good.count() == 2 and not good.isEmpty()
    assert sorted(r.doc_id for r in good.collect()) == [1, 2]
    assert [r.raw for r in bad.collect()] == ["garbage line"]
