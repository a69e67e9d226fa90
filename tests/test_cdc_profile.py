"""Unit tests for the CDC operators (apply_changes / scd2_history), the
OLAP additions (cube_totals / pivot_table / ntile_buckets), and the
profiling operators (table_profile / fixed_width_histogram).

Each also has a driver-board entry whose DuckDB oracle is the cross-engine
check; these tests pin semantics on micro-fixtures where every expected
value is hand-computable — including the merge edge cases (delete of an
absent key, insert+delete of the same key, change order inversion) that
the synthetic driver change stream may not cover.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )


def test_apply_changes_upsert_delete_insert(spark):
    from tsatool_app_spark.operators.cdc import apply_changes

    changes = spark.createDataFrame(
        [
            # key 1: two updates out of order -> seq 5 wins
            (1, "a2", 11.0, 5, "U"),
            (1, "a1", 10.5, 4, "U"),
            # key 2: update then delete -> deleted
            (2, "b1", 21.0, 1, "U"),
            (2, "b2", 22.0, 2, "D"),
            # key 4: insert (not in base)
            (4, "d", 40.0, 1, "U"),
            # key 5: delete of an absent key -> no row, no error
            (5, "e", 50.0, 1, "D"),
        ],
        "id long, name string, bal double, seq long, op string",
    )
    out = apply_changes(_base(spark), changes, "id", "seq")
    rows = {r.id: (r.name, r.bal) for r in out.collect()}
    assert rows == {1: ("a2", 11.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_apply_changes_delete_then_reinsert(spark):
    from tsatool_app_spark.operators.cdc import apply_changes

    changes = spark.createDataFrame(
        [(2, "x", 1.0, 1, "D"), (2, "b3", 23.0, 2, "U")],
        "id long, name string, bal double, seq long, op string",
    )
    out = apply_changes(_base(spark), changes, "id", "seq")
    rows = {r.id: r.name for r in out.collect()}
    assert rows[2] == "b3"  # terminal change wins, earlier delete ignored


def test_scd2_history_chain(spark):
    from tsatool_app_spark.operators.cdc import scd2_history

    ev = spark.createDataFrame(
        [(1, 100, 10, "p"), (1, 200, 11, "q"), (1, 300, 12, "r"), (2, 150, 20, "s")],
        "k long, t long, eid long, v string",
    )
    out = scd2_history(ev, "k", "t", ["eid", "v"]).collect()
    by_eid = {r.eid: r for r in out}
    assert (by_eid[10].valid_from, by_eid[10].valid_to, by_eid[10].is_current) == (
        100, 200, False,
    )
    assert (by_eid[12].valid_from, by_eid[12].valid_to, by_eid[12].is_current) == (
        300, None, True,
    )
    assert (by_eid[20].valid_to, by_eid[20].is_current) == (None, True)


def test_cube_totals_levels(spark):
    from tsatool_app_spark.operators.olap import ALL, cube_totals

    df = spark.createDataFrame(
        [("x", "1", 1.0), ("x", "2", 2.0), ("y", "1", 4.0)],
        "a string, b string, m double",
    )
    out = cube_totals(df, ["a", "b"], {"m": "m"}).collect()
    got = {(r.a, r.b): (r.n_rows, r.sum_m) for r in out}
    assert len(got) == 3 + 2 + 2 + 1  # cells + a-levels + b-levels + grand
    assert got[("x", ALL)] == (2, 3.0)
    assert got[(ALL, "1")] == (2, 5.0)
    assert got[(ALL, ALL)] == (3, 7.0)


def test_pivot_table_explicit_values(spark):
    from tsatool_app_spark.operators.olap import pivot_table

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (1, "a", 3.0), (2, "b", 5.0)],
        "k long, p string, m double",
    )
    out = pivot_table(df, "k", "p", ["a", "b", "missing"], "m").collect()
    rows = {r.k: (r.sum_a, r.sum_b, r.sum_missing) for r in out}
    assert rows[1] == (4.0, 2.0, None)
    assert rows[2] == (None, 5.0, None)


def test_pivot_plan_single_aggregate(spark):
    """Explicit pivot values -> ONE aggregate, no distinct-values job."""
    from tsatool_app_spark.operators.olap import pivot_table

    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        F.col("id").cast("double").alias("m"),
    )
    plan = pivot_table(df, "k", "p", ["0", "1", "2"], "m")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 4  # partial+final, maybe AQE pair; no pivot pre-pass


def test_ntile_buckets_exact(spark):
    from tsatool_app_spark.operators.olap import ntile_buckets

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    out = ntile_buckets(df, ["v", "id"], 5).collect()
    assert {r.id: r.bucket for r in out} == {i: i // 2 + 1 for i in range(10)}


def test_table_profile_stats(spark):
    from tsatool_app_spark.functions.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "x long, s string",
    )
    out = {r.column: r for r in table_profile(df, ["x", "s"]).collect()}
    assert (out["x"].n_rows, out["x"].n_nulls, out["x"].n_distinct) == (4, 1, 2)
    assert (out["x"].min_s, out["x"].max_s) == ("1", "2")
    assert (out["s"].n_nulls, out["s"].n_distinct) == (1, 2)


def test_histogram_clamps_edges(spark):
    from tsatool_app_spark.functions.profile import fixed_width_histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (95.0,), (200.0,), (None,)],
        "v double",
    )
    out = {r.bucket: (r.lo_edge, r.n) for r in
           fixed_width_histogram(df, "v", 0.0, 100.0, 10).collect()}
    assert out[0] == (0.0, 3)   # -5 clamps up, 0.0 and 9.9 in-range
    assert out[1] == (10.0, 1)  # boundary value goes to its own bucket
    assert out[9] == (90.0, 2)  # 95 in-range, 200 clamps down; NULL dropped


def test_profile_single_pass_plan(spark):
    """table_profile runs as ONE aggregate over the scan (expand for the
    multi-distinct, but no per-column scan fan-out)."""
    from tsatool_app_spark.functions.profile import table_profile

    df = spark.range(1000).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    plan = table_profile(df, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range") == 1  # the source is scanned exactly once


def test_weighted_sample_rates(spark):
    from tsatool_app_spark.functions.sampling import (
        hash_bucket,
        weighted_sample_by_group,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "id long, grp string",
    )
    out = weighted_sample_by_group(
        df, "grp", {"a": 100, "b": 0}, "id", default_rate=0
    )
    got = {r.id for r in out.collect()}
    assert got == {i for i in range(200) if i % 2 == 0}  # all of a, none of b

    # default rate applies to unlisted groups and matches hash_bucket<rate
    out2 = weighted_sample_by_group(df, "grp", {}, "id", default_rate=30)
    expected = {
        r.id
        for r in df.select("id", hash_bucket(F.col("id")).alias("b")).collect()
        if r.b < 30
    }
    assert {r.id for r in out2.collect()} == expected


def test_rolling_time_window_peers(spark):
    from tsatool_app_spark.operators.timeseries import rolling_time_window

    rows = [
        (1, 0, 1.0),
        (1, 300, 2.0),
        (1, 600, 4.0),     # window [0,600] includes all three
        (1, 601, 8.0),     # [1,601] drops t=0
        (1, 601, 16.0),    # equal-ts peer: both 601 rows see BOTH values
        (2, 0, 100.0),
    ]
    df = spark.createDataFrame(
        [(k, float(t), v) for k, t, v in rows], "statid long, t double, seval double"
    ).select("statid", F.timestamp_seconds("t").alias("tfrom"), "seval")
    out = rolling_time_window(df, 600, key_cols=("statid",))
    got = {(r.statid, r.tfrom.timestamp(), r.seval): (r.win_sum, r.win_n)
           for r in out.collect()}
    assert got[(1, 0.0, 1.0)] == (1.0, 1)
    assert got[(1, 600.0, 4.0)] == (7.0, 3)
    assert got[(1, 601.0, 8.0)] == (30.0, 4)   # 2+4+8+16, peer included
    assert got[(1, 601.0, 16.0)] == (30.0, 4)  # same frame for the peer
    assert got[(2, 0.0, 100.0)] == (100.0, 1)


def test_clean_corpus_composition(spark):
    from tsatool_app_spark.functions.corpus import clean_corpus

    good = ("the and for with that this from they have "
            "word " * 9).strip()  # en markers, 50+ chars, sane ratios
    docs = spark.createDataFrame(
        [
            (1, good + "."),          # survives
            (2, good + "."),          # exact dup of 1 -> dropped
            (3, "le la et les des en une il dans ce."),  # french -> dropped
            (4, "x."),                # too short -> quality < 0.6
        ],
        "doc_id long, text string",
    )
    out = clean_corpus(docs, lang="en", min_quality=0.6).collect()
    assert [r.doc_id for r in out] == [1]
    r = out[0]
    assert r.lang_pred == "en" and r.quality >= 0.6
    assert r.n_tokens_ws == good.count(" ") + 1
    assert r.clean_text == good + "."  # nothing to redact


def test_incremental_merge_equals_full(spark):
    from tsatool_app_spark.operators.incremental import (
        finalize_aggregate,
        merge_partials,
        partial_aggregate,
    )

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(20)] + [("b", 0.25), ("b", -3.5)],
        "k string, v double",
    )
    # three arbitrary slices (uneven, interleaved) must fold to the full agg
    s1 = partial_aggregate(df.where("v < 5"), ["k"], "v")
    s2 = partial_aggregate(df.where("v >= 5 and v < 6"), ["k"], "v")
    s3 = partial_aggregate(df.where("v >= 6"), ["k"], "v")
    merged = finalize_aggregate(merge_partials(s1, s2, s3)).collect()
    full = finalize_aggregate(partial_aggregate(df, ["k"], "v")).collect()
    as_map = lambda rows: {r.k: (r.n, r.sum_val, r.min_val, r.max_val, r.avg_val)
                           for r in rows}
    assert as_map(merged) == as_map(full)
    assert as_map(full)["b"] == (2, -3.25, -3.5, 0.25, -1.625)


def test_zorder_key_matches_python_morton(spark):
    from tsatool_app_spark.operators.layout import zorder_key

    def morton(x, y, bits=16):
        cap = (1 << bits) - 1
        x, y = min(max(x, 0), cap), min(max(y, 0), cap)
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (70000, -4)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    for r in out:
        assert r.z == morton(r.x, r.y), (r.x, r.y)


def test_funnel_strict_order(spark):
    from tsatool_app_spark.operators.funnel import funnel_counts

    rows = [
        # u1: a->b->c in order: reaches all 3
        (1, 10, "a"), (1, 20, "b"), (1, 30, "c"),
        # u2: b before a: reaches only step 1
        (2, 10, "b"), (2, 20, "a"), (2, 30, "c"),  # c>a but b<a breaks chain
        # u3: a only
        (3, 10, "a"),
        # u4: never did a: contributes nothing
        (4, 10, "b"), (4, 20, "c"),
        # u5: a then c (no b): steps 1 only
        (5, 10, "a"), (5, 30, "c"),
        # u6: simultaneous a and b (tie is NOT strictly later)
        (6, 10, "a"), (6, 10, "b"), (6, 30, "c"),
    ]
    df = spark.createDataFrame(
        [(u, float(t), s) for u, t, s in rows], "user_id long, t double, event_type string"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "event_type")
    out = {r.step: r.n_entities for r in funnel_counts(df, ["a", "b", "c"]).collect()}
    assert out == {1: 5, 2: 1, 3: 1}


def test_cohort_retention_matrix(spark):
    from tsatool_app_spark.operators.funnel import cohort_retention

    day = 86400
    rows = [
        (1, 0), (1, day), (1, 2 * day),      # cohort day0, active d0,d1,d2
        (2, 0), (2, 2 * day),                # cohort day0, active d0,d2
        (3, day), (3, day + 100), (3, 2 * day),  # cohort day1 (dup same day), d1,d2
    ]
    df = spark.createDataFrame(
        [(u, float(t)) for u, t in rows], "user_id long, t double"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"))
    out = {(r.cohort_period, r.offset): r.n_active
           for r in cohort_retention(df, day).collect()}
    assert out == {
        (0, 0): 2, (0, 1): 1, (0, 2): 2,
        (day, 0): 1, (day, 1): 1,
    }


def test_salted_join_equals_plain_join(spark):
    from tsatool_app_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")] * 5, "k long, lv string"
    )
    right = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0), (9, 90.0)], "k long, rv double"
    )
    plain = left.join(right, "k").groupBy("k").count().collect()
    salted = salted_join(left, right, "k", salt_buckets=4).groupBy("k").count().collect()
    assert {r.k: r["count"] for r in salted} == {r.k: r["count"] for r in plain}

    # left join preserves unmatched skewed rows exactly once
    plain_l = left.join(right, "k", "left").count()
    salted_l = salted_join(left, right, "k", salt_buckets=4, how="left").count()
    assert salted_l == plain_l


def test_quality_gate_quarantine(spark):
    from tsatool_app_spark.functions.quality_gate import (
        check_constraints,
        in_range,
        matches,
        not_null,
    )

    df = spark.createDataFrame(
        [
            (1, 5.0, "ok"),        # clean
            (2, None, "ok"),       # fails not_null only (range is NULL-tolerant)
            (3, 99.0, "ok"),       # fails range
            (4, 99.0, "BAD!"),     # fails range AND regex
            (5, 5.0, None),        # clean: regex/range tolerate NULL, v not null
        ],
        "id long, v double, s string",
    )
    rules = [not_null("v"), in_range("v", 0, 10), matches("s", "^[a-z]+$")]
    checked = check_constraints(df, rules).collect()
    assert {r.id for r in checked if r.is_valid} == {1, 5}
    got = {r.id: sorted(r.violations) for r in checked if not r.is_valid}
    assert got == {
        2: ["v_not_null"],
        3: ["v_in_range"],
        4: ["s_matches", "v_in_range"],
    }


def test_value_buckets_ties_share_bucket(spark):
    from tsatool_app_spark.operators.olap import quantile_buckets_by_value

    # 10 rows of value 1 and 10 rows of value 2 into 4 buckets:
    # value 1 -> bucket (0*4) div 20 + 1 = 1; value 2 -> (10*4) div 20 + 1 = 3
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(10)] + [(i + 10, 2.0) for i in range(10)],
        "id long, v double",
    )
    out = quantile_buckets_by_value(df, "v", 4)
    got = {(r.v, r.bucket) for r in out.collect()}
    assert got == {(1.0, 1), (2.0, 3)}  # every tie in ONE bucket
    assert out.count() == 20


def test_iqr_outliers_fences(spark):
    from tsatool_app_spark.functions.mlprep import iqr_outliers

    # group a: values 1..8 plus an outlier 100 (n=9): q25=rank ceil(2.25)=3
    # -> 3.0, q75=rank ceil(6.75)=7 -> 7.0, IQR=4, fences [-3, 13]
    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 100])]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r.id: r.is_outlier for r in
           iqr_outliers(df, "g", "v", tiebreak_cols=("id",)).collect()}
    assert out == {i: (i == 8) for i in range(9)}


def test_zscore_by_group_exact(spark):
    from tsatool_app_spark.functions.mlprep import zscore_by_group

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 3.0), (3, "b", 5.0), (4, "b", 5.0)],
        "id long, g string, v double",
    )
    out = {r.id: r.z for r in zscore_by_group(df, "g", "v").collect()}
    assert out[1] == -1.0 and out[2] == 1.0  # mean 2, sd 1
    assert out[3] is None and out[4] is None  # zero-variance group -> NULL


def test_chi2_cells_hand_computed(spark):
    from tsatool_app_spark.functions.stats import contingency_chi2_cells

    # 2x2: rows a/b, cols x/y with counts [[10, 20], [30, 40]]
    data = ([("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 30 + [("b", "y")] * 40)
    df = spark.createDataFrame(data, "r string, c string")
    out = {(r.r, r.c): (r.observed, r.expected, r.contrib)
           for r in contingency_chi2_cells(df, "r", "c").collect()}
    e_ax = 30 * 40 / 100  # row_a * col_x / n = 12
    assert out[("a", "x")][0] == 10
    assert out[("a", "x")][1] == e_ax
    assert abs(out[("a", "x")][2] - (10 - e_ax) ** 2 / e_ax) < 1e-12
    assert sum(v[0] for v in out.values()) == 100


def test_two_proportion_ztest_formula(spark):
    from tsatool_app_spark.functions.stats import two_proportion_ztest
    from pyspark.sql import functions as F
    import math

    # cohort A: 100 rows, 30 successes; cohort B: 200 rows, 40 successes
    data = ([("A", 1)] * 30 + [("A", 0)] * 70
            + [("B", 1)] * 40 + [("B", 0)] * 160)
    df = spark.createDataFrame(data, "g string, s int")
    r = two_proportion_ztest(df, F.col("g") == "A", F.col("s") == 1).collect()[0]
    assert (r.n1, r.x1, r.n2, r.x2) == (100, 30, 200, 40)
    p, se = 70 / 300, math.sqrt((70 / 300) * (1 - 70 / 300) * (1 / 100 + 1 / 200))
    assert abs(r.z - (0.3 - 0.2) / se) < 1e-12


def test_transition_counts_chain(spark):
    from tsatool_app_spark.operators.funnel import transition_counts

    rows = [(1, 0, "a"), (1, 1, "b"), (1, 2, "b"), (2, 0, "a"), (2, 1, "b")]
    df = spark.createDataFrame(
        [(u, float(t), ty) for u, t, ty in rows],
        "user_id long, t double, event_type string",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "event_type")
    out = {(r.from_type, r.to_type): r.n for r in transition_counts(df).collect()}
    assert out == {("a", "b"): 2, ("b", "b"): 1}


def test_first_touch_attribution_credit(spark):
    from tsatool_app_spark.operators.funnel import first_touch_attribution

    rows = [
        (1, 0, "ad"), (1, 5, "buy"),      # converted, first touch ad
        (2, 0, "email"), (2, 3, "buy"),   # converted, first touch email
        (3, 0, "ad"),                     # never converted
        (4, 0, "buy"),                    # converted instantly: credit 'buy'
    ]
    df = spark.createDataFrame(
        [(u, float(t), ty) for u, t, ty in rows],
        "user_id long, t double, event_type string",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "event_type")
    out = {r.first_touch_type: r.n_converted
           for r in first_touch_attribution(df, "buy").collect()}
    assert out == {"ad": 1, "email": 1, "buy": 1}


def test_point_in_time_join_no_leakage(spark):
    from tsatool_app_spark.operators.cdc import point_in_time_join, scd2_history

    # history: key 1 value changes at t=100 (v=1) and t=200 (v=2)
    changes = spark.createDataFrame(
        [(1, 100, 10, 1.0), (1, 200, 11, 2.0)],
        "k long, t long, eid long, v double",
    )
    hist = scd2_history(changes, "k", "t", ["eid", "v"]).select(
        "k", "valid_from", "v"
    )
    probes = spark.createDataFrame(
        [(1, 1, 50), (2, 1, 100), (3, 1, 150), (4, 1, 200), (5, 1, 999),
         (6, 2, 100)],
        "pid long, k long, t long",
    )
    out = {r.pid: r.v for r in
           point_in_time_join(probes, hist, "k", "t", ["v"]).collect()}
    assert out[1] is None      # before any history: no leakage from future
    assert out[2] == 1.0       # exactly at first valid_from
    assert out[3] == 1.0
    assert out[4] == 2.0       # boundary: new interval starts AT its ts
    assert out[5] == 2.0       # current interval carries to +inf
    assert out[6] is None      # unknown key


def test_funnel_windowed_gap(spark):
    from tsatool_app_spark.operators.funnel import funnel_counts_windowed

    rows = [
        (1, 0, "a"), (1, 50, "b"),     # within 100s window
        (2, 0, "a"), (2, 500, "b"),    # b too late
    ]
    df = spark.createDataFrame(
        [(u, float(t), ty) for u, t, ty in rows],
        "user_id long, t double, event_type string",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "event_type")
    out = {r.step: r.n_entities
           for r in funnel_counts_windowed(df, ["a", "b"], 100).collect()}
    assert out == {1: 2, 2: 1}


def test_active_counts_dau_wau(spark):
    from tsatool_app_spark.operators.funnel import active_counts

    day = 86400.0
    rows = [
        (1, 0.0), (1, 10.0),        # u1 day0 (dup collapses)
        (2, 0.0),                   # u2 day0
        (1, day),                   # u1 day1 (same ISO week as day0)
        (3, 8 * day),               # u3 a week later
    ]
    df = spark.createDataFrame(rows, "user_id long, t double").select(
        "user_id", F.timestamp_seconds("t").alias("ts")
    )
    out = {str(r.day): (r.dau, r.wau) for r in active_counts(df).collect()}
    assert out["2024-01-01"][0] == 2 if "2024-01-01" in out else True
    days = sorted(out)
    assert out[days[0]] == (2, 2)   # day0: u1,u2; week: u1,u2
    assert out[days[1]] == (1, 2)   # day1: u1; same week
    assert out[days[2]] == (1, 1)   # day8: u3 alone in its week
