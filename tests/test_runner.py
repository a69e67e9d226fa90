"""End-to-end lifecycle tests: collection parse → topo-sorted execution →
summaries + error tree (SURVEY §3.1/§3.2)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from tsatool_app_spark.runner import AnalysisCollection, CondCollection

T0 = datetime(2018, 3, 1)


def mk_obs(spark, rows):
    data = [(T0 + timedelta(minutes=m), s, se, float(v)) for m, s, se, v in rows]
    return spark.createDataFrame(data, "tfrom timestamp, statid int, seid int, seval float")


def obs_fixture(spark):
    rows = []
    # station 1122, sensor 3 (tie_1): temp crosses < 3 threshold
    for i, v in enumerate([5.0, 4.0, 2.0, 1.0, 2.5, 4.0, 5.0, 5.0]):
        rows.append((i * 5, 1122, 3, v))
    # station 1122, sensor 27 (keli_1): stays 8
    for i in range(8):
        rows.append((i * 5, 1122, 27, 8.0))
    return mk_obs(spark, rows)


SENSORS = {"tie_1": 3, "keli_1": 27}


def test_single_condition_run(spark):
    coll = CondCollection.from_rows(
        "sheet1", T0, T0, [("Sipoo", "A1", "s1122#tie_1 < 3 AND s1122#keli_1 = 8")]
    )
    assert not coll.errors
    res = coll.run(obs_fixture(spark), sensor_name_to_id=SENSORS)
    r = res["sipoo_a1"]
    rows = r.ranges.orderBy("vfrom").collect()
    # tie_1 readings < 3 at minutes 10, 15, 20 → true range [10, 25);
    # keli_1 = 8 throughout [0, 35) (last reading dropped per W1)
    assert sum(x.vdiff_s for x in rows if x.master) == 900
    summary = r.summary.collect()[0]
    assert summary.tottime_valid_s == 900
    assert summary.tottime_s == 2100
    assert abs(summary.percentage_valid - 900 / 2100 * 100) < 1e-9


def test_secondary_chain_and_topo_order(spark):
    # C depends on B depends on A — declared in REVERSE row order; the
    # reference would fail here (relies on user ordering,
    # cond_collection.py:169-171); we topo-sort.
    coll = CondCollection.from_rows(
        "sheet1",
        T0,
        T0,
        [
            ("x", "C1", "x#B1 AND s1122#keli_1 = 8"),
            ("x", "B1", "A1"),
            ("x", "A1", "s1122#tie_1 < 3"),
        ],
    )
    order = coll.execution_order()
    assert order.index("x_a1") < order.index("x_b1") < order.index("x_c1")
    res = coll.run(obs_fixture(spark), sensor_name_to_id=SENSORS)
    assert res["x_c1"].summary.collect()[0].tottime_valid_s == 900
    # B1 mirrors A1 exactly (single secondary block)
    a = res["x_a1"].summary.collect()[0]
    b = res["x_b1"].summary.collect()[0]
    assert a.tottime_valid_s == b.tottime_valid_s == 900


def test_summaries_df_level_sharing_and_subset(spark, monkeypatch):
    """r7: conditions of a level share one cond_id-grouped rollup;
    summaries_df must emit one row per condition, values equal to the
    per-condition summaries, and — the subset contract — only the passed
    conditions when given a filtered results dict.

    The run and the sheet collect build every lookup (sensor key → block,
    block → condition, condition → block columns, condition keys) inside
    the plan: no driver-side ``createDataFrame`` relation. A3 repeats A1's
    block (one CSE-shared packed block fanned out to two conditions) and
    A4 reads A1's sensor key with another predicate (two blocks under one
    key).

    Two more runs of the same sheet pin the session's generated-class
    cache: the last compiles (next to) nothing, where at Spark's defaults
    every repeat recompiled 110-120 classes.  Two causes, both set in
    ``get_spark``: the 100-entry cache evicted the sheet's classes, and
    with the codegen stage number in the class name the first repeat
    recompiled about a dozen whole-stage classes whose code equalled one
    compiled before except for that number (AQE numbers stages in the
    order it plans them, which differs between the first run, with its
    extra collects, and the repeats).  The bound is not 0 because AQE can
    still pick another join strategy from the order its stages finish,
    which compiles a new class (seen in 1 of 28 repeats: one class,
    compiled twice)."""
    from pyspark.sql import SparkSession

    coll = CondCollection.from_rows(
        "sheet1",
        T0,
        T0,
        [
            ("x", "A1", "s1122#tie_1 < 3"),
            ("x", "A2", "s1122#keli_1 = 8"),
            ("x", "B1", "A1 AND A2"),
            ("x", "A3", "s1122#tie_1 < 3"),
            ("x", "A4", "s1122#tie_1 >= 3"),
        ],
    )
    obs = obs_fixture(spark)

    def no_driver_relations(*args, **kwargs):
        raise AssertionError("createDataFrame on the sheet path")

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", no_driver_relations)
        res = coll.run(obs, sensor_name_to_id=SENSORS)
        full = {r.cond_id: r for r in CondCollection.summaries_df(res).collect()}
    # every condition of the sheet, secondary B1 included, shares one
    # sheet result: the sheet combines as one plan
    assert res["x_a1"].sheet is res["x_a2"].sheet
    assert res["x_b1"].sheet is res["x_a1"].sheet
    assert set(full) == {"x_a1", "x_a2", "x_b1", "x_a3", "x_a4"}
    assert full["x_a1"].tottime_valid_s == 900
    # the shared block gives both conditions the same values
    for cid in ("x_a1", "x_a3"):
        assert (full[cid].tottime_valid_s, full[cid].tottime_notvalid_s) == (900, 1200)
    # the complement predicate on the same sensor key
    assert (full["x_a4"].tottime_valid_s, full["x_a4"].tottime_notvalid_s) == (1200, 900)
    assert full["x_a4"].tottime_nodata_s == 0
    # per-condition summary (filter of the rollup) agrees with the union
    solo = res["x_a2"].summary.collect()[0]
    assert solo.tottime_valid_s == full["x_a2"].tottime_valid_s
    # subset call: only the requested conditions appear
    part = CondCollection.summaries_df({"x_a1": res["x_a1"]}).collect()
    assert [r.cond_id for r in part] == ["x_a1"]

    # repeats of the unchanged sheet (what a stream's micro-batches do)
    # reuse the generated classes from the session's codegen cache
    compiled = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    CondCollection.summaries_df(coll.run(obs, sensor_name_to_id=SENSORS)).collect()
    before = compiled.METRIC_COMPILATION_TIME().getCount()
    CondCollection.summaries_df(coll.run(obs, sensor_name_to_id=SENSORS)).collect()
    assert compiled.METRIC_COMPILATION_TIME().getCount() - before < 10


def _stacked_diamond(depth):
    """Sheet rows: two primaries, then ``depth`` levels of two conditions,
    each reading both conditions of the level below."""
    rows = [("x", "L0A", "s1122#tie_1 < 3"), ("x", "L0B", "s1122#keli_1 = 8")]
    for k in range(1, depth + 1):
        a, b = f"L{k - 1}A", f"L{k - 1}B"
        rows += [("x", f"L{k}A", f"{a} AND NOT {b}"), ("x", f"L{k}B", f"{a} OR {b}")]
    return rows


def test_deep_secondary_diamond_plan_stays_linear(spark):
    """A stacked diamond of depth 10 runs, and its combine plan grows
    linearly with depth: each read condition's master is one column that
    its readers reference, so depth 10's analyzed plan is < 4x depth 5's
    (substituting each source's expression as text would double it at
    every level, about 32x)."""
    obs = obs_fixture(spark)

    def plan_chars(depth):
        coll = CondCollection.from_rows("deep", T0, T0, _stacked_diamond(depth))
        res = coll.run(obs, sensor_name_to_id=SENSORS)
        assert not coll.errors and len(res) == 2 * depth + 2
        analyzed = res["x_l0a"].sheet.runs._jdf.queryExecution().analyzed()
        return res, len(analyzed.treeString(False, False, 1 << 30, False, False))

    _, shallow = plan_chars(5)
    res, deep = plan_chars(10)
    assert deep < 4 * shallow
    full = {r.cond_id: r for r in CondCollection.summaries_df(res).collect()}
    # L1A = tie_1 < 3 AND NOT keli_1 = 8 is false wherever keli_1 reads 8
    # (all of [0, 35)), so every A on the way up is false there too
    assert full["x_l10a"].tottime_valid_s == 0
    assert full["x_l10a"].tottime_notvalid_s == 2100


def test_no_data_condition_keeps_one_row_summary(spark):
    """A condition whose blocks match ZERO observations must still get one
    NULL-filled summary row (the ungrouped-rollup empty-input shape), not
    vanish from the level's grouped rollup — reports.summary_rows reads
    it and documents the no-data case as supported."""
    coll = CondCollection.from_rows(
        "sheet1",
        T0,
        T0,
        [
            ("x", "A1", "s1122#tie_1 < 3"),     # has data
            ("x", "A2", "s1115#tie_1 < 3"),     # valid station, no obs rows
        ],
    )
    res = coll.run(obs_fixture(spark), sensor_name_to_id=SENSORS)
    rows = res["x_a2"].summary.collect()
    assert len(rows) == 1
    s = rows[0]
    assert s.data_from is None and s.data_until is None
    assert s.tottime_s is None
    assert s.tottime_valid_s == 0 and s.tottime_notvalid_s == 0
    assert s.percentage_valid is None
    # the sheet rollup includes the no-data condition too
    full = {r.cond_id: r for r in CondCollection.summaries_df(res).collect()}
    assert set(full) == {"x_a1", "x_a2"}
    assert full["x_a2"].data_from is None
    assert full["x_a1"].tottime_valid_s == 900


def test_undefined_secondary_reference(spark):
    coll = CondCollection.from_rows(
        "sheet1", T0, T0, [("x", "C1", "E2 AND s1122#tie_1 < 3")]
    )
    res = coll.run(obs_fixture(spark), sensor_name_to_id=SENSORS)
    assert res["x_c1"].ranges is None
    assert any("undefined" in m for m in coll.conditions["x_c1"].errors.messages)


def test_cyclic_references_detected(spark):
    coll = CondCollection.from_rows(
        "sheet1", T0, T0, [("x", "A1", "B1"), ("x", "B1", "A1")]
    )
    assert coll.execution_order() == []
    assert any("Cyclic" in m for m in coll.errors.messages)


def test_duplicate_condition_id_skipped(spark):
    coll = CondCollection.from_rows(
        "sheet1",
        T0,
        T0,
        [("x", "A1", "s1122#tie_1 < 3"), ("x", "A1", "s1122#tie_1 < 5")],
    )
    assert len(coll.conditions) == 1
    assert any("Duplicate" in m for m in coll.errors.messages)


def test_empty_cells_skipped():
    coll = CondCollection.from_rows(
        "sheet1", T0, T0, [("x", "", "s1122#tie_1 < 3"), ("x", "A1", None)]
    )
    assert len(coll.conditions) == 0
    assert len(coll.errors) == 2


def test_dry_validate_error_tree():
    ac = AnalysisCollection("batch1")
    ac.add_collection(
        CondCollection.from_rows(
            "sheet1",
            T0,
            T0,
            [
                ("x", "A1", "s1122#tie_1 < 3"),       # ok
                ("x", "B1", "s111220#keli_1 = 8"),    # unknown station
                ("x", "C1", "s1122#keli_10 = 8"),     # unknown sensor
            ],
        )
    )
    tree = ac.dry_validate({1122, 1115, 1120}, SENSORS)
    s = json.dumps(tree)
    assert "111220" in s and "keli_10" in s
    assert "x_a1" not in json.dumps(tree["collections"][0]["conditions"])


def test_time_window_filter(spark):
    # Observations outside [time_from 00:00, time_until 23:59:59] excluded.
    rows = [(m, 1122, 3, 1.0) for m in (0, 5, 10)] + [
        (60 * 24 * 3, 1122, 3, 1.0)  # 3 days later, outside window
    ]
    coll = CondCollection.from_rows("s", T0, T0, [("x", "A1", "s1122#tie_1 < 3")])
    res = coll.run(mk_obs(spark, rows), sensor_name_to_id=SENSORS)
    out = res["x_a1"].ranges.collect()
    assert len(out) == 1
    assert out[0].vdiff_s == 600


def test_unknown_sensor_skips_condition(spark):
    """A primary block whose sensor name fails resolution (J5) must skip the
    whole condition with an error, not run with a bogus key."""
    coll = CondCollection.from_rows(
        "sheet1", T0, T0, [("x", "A1", "s1122#keli_99 = 8")]
    )
    res = coll.run(obs_fixture(spark), sensor_name_to_id=SENSORS)
    assert res["x_a1"].ranges is None
    b = coll.conditions["x_a1"].blocks["a1_0"]
    assert any("keli_99" in m for m in b.errors.messages)
