"""Unit tests for the round-3 extension operators: semi-structured JSON
extraction, line-level quality filtering, keyword/BM25 search, rolling
window features, discrete percentiles, and ROLLUP subtotals.

Each operator also has a driver-board entry (plans/driver_queries.py) whose
DuckDB oracle is the cross-engine check; these tests pin the semantics on
constructed micro-fixtures where the expected values are hand-computable.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_extract_json_fields_typed(spark):
    from tsatool_app_spark.functions.semistructured import extract_json_fields

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "x"}'), (2, '{"k": -3}'), (3, "not json")],
        "id long, props string",
    )
    out = extract_json_fields(df, "props", {"k": "long", "tag": "string"})
    rows = {r.id: (r.k, r.tag) for r in out.collect()}
    assert rows[1] == (7, "x")
    assert rows[2] == (-3, None)
    assert rows[3] == (None, None)  # unparseable -> typed NULLs, no error


def test_line_quality_filter_rules(spark):
    from tsatool_app_spark.functions.corpus import line_quality_filter

    # 16 words -> two 8-word lines: first contains 'the' (kept), second has
    # no stopword (dropped).
    text = "the b c d e f g h " + "x1 x2 x3 x4 x5 x6 x7 x8"
    docs = spark.createDataFrame(
        [(1, text), (2, ""), (3, "a b c")],  # 3: one 3-word line -> too short
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_quality_filter(docs).collect()}
    assert (out[1].n_lines, out[1].n_kept) == (2, 1)
    assert out[1].kept_text == "the b c d e f g h"
    assert (out[2].n_lines, out[2].n_kept, out[2].kept_text) == (1, 0, "")
    assert (out[3].n_lines, out[3].n_kept) == (1, 0)


def test_keyword_search_ranking(spark):
    from tsatool_app_spark.functions.search import keyword_search

    docs = spark.createDataFrame(
        [
            (1, "spark spark window"),  # score 3, 2 terms
            (2, "spark hash window"),  # score 3, 3 terms
            (3, "spark"),  # score 1
            (4, "nothing relevant"),  # no hit -> absent
        ],
        "doc_id long, text string",
    )
    rows = keyword_search(docs, ["spark", "window", "hash"], k=10).collect()
    assert [r.doc_id for r in rows] == [2, 1, 3]  # n_terms breaks the tie
    assert [r.score for r in rows] == [3, 3, 1]


def test_bm25_matches_hand_computation(spark):
    from tsatool_app_spark.functions.search import bm25_topk

    corpus = [
        (1, "spark spark spark filler filler"),
        (2, "spark window filler filler filler"),
        (3, "window window filler filler filler"),
        (4, "filler filler filler filler filler"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_topk(docs, ["spark", "window"]).collect()}

    # independent reference computation
    k1, b = 1.2, 0.75
    n_docs, avgdl = 4.0, 5.0
    tfs = {1: {"spark": 3}, 2: {"spark": 1, "window": 1}, 3: {"window": 2}}
    dfs = {"spark": 2, "window": 2}
    for doc_id, terms in tfs.items():
        dl = 5.0
        want = sum(
            math.log(1 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
            * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * dl / avgdl))
            for t, tf in terms.items()
        )
        assert math.isclose(got[doc_id], want, rel_tol=1e-12), doc_id
    assert 4 not in got
    # saturation: doc 2's two distinct tf=1 terms (2·f(1)) outrank doc 1's
    # single tf=3 term (f(3) saturates at k1+1).
    order = sorted(got, key=lambda d: -got[d])
    assert order[0] == 2 and set(order) == {1, 2, 3}


def test_rolling_features_frame(spark):
    from tsatool_app_spark.operators.timeseries import rolling_features

    rows = [(1, f"2024-01-01 00:0{i}:00", i, float(i)) for i in range(7)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r.event_id: r
        for r in rolling_features(
            ev,
            key_cols=("user_id",),
            time_col="ts",
            value_col="value",
            order_tiebreak=("event_id",),
            window_rows=3,
        ).collect()
    }
    assert (out[0].roll_sum, out[0].roll_n, out[0].roll_max) == (0.0, 1, 0.0)
    assert (out[2].roll_sum, out[2].roll_n, out[2].roll_max) == (3.0, 3, 2.0)
    # frame slides: rows 4,5,6 -> sum 15, max 6
    assert (out[6].roll_sum, out[6].roll_n, out[6].roll_max) == (15.0, 3, 6.0)


def test_percentile_disc_selection(spark):
    from tsatool_app_spark.operators.olap import percentile_disc_by_group

    ev = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])],
        "g string, event_id long, value double",
    )
    row = percentile_disc_by_group(
        ev, "g", "value", [0.5, 0.9], tiebreak_cols=("event_id",)
    ).collect()[0]
    # n=10: p50 -> rank ceil(5)=5 -> 50; p90 -> rank 9 -> 90
    assert (row.p50, row.p90) == (50.0, 90.0)


def test_rollup_totals_subtotals(spark):
    from tsatool_app_spark.operators.olap import ALL, rollup_totals

    df = spark.createDataFrame(
        [("r1", "s1", 1.0), ("r1", "s2", 2.0), ("r2", "s1", 4.0)],
        "rf string, ls string, qty double",
    )
    out = {
        (r.rf, r.ls): (r.n_rows, r.sum_qty)
        for r in rollup_totals(df, ["rf", "ls"], {"qty": "qty"}).collect()
    }
    assert out[("r1", "s1")] == (1, 1.0)
    assert out[("r1", ALL)] == (2, 3.0)
    assert out[("r2", ALL)] == (1, 4.0)
    assert out[(ALL, ALL)] == (3, 7.0)
    assert len(out) == 6  # 3 leaves + 2 rf subtotals + grand total


def test_phrase_search_adjacency(spark):
    from tsatool_app_spark.functions.search import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick the brown"),          # terms present, wrong order
            (3, "the brown quick fox"),      # adjacent pair elsewhere
            (4, "x the quick y the quick"),  # multiple matches, still one row
            (5, "thequick brown"),           # substring must NOT match
        ],
        "doc_id long, text string",
    )
    out = [r.doc_id for r in phrase_search(docs, ["the", "quick"]).collect()]
    assert out == [1, 4]

    # three-term chain
    out3 = [r.doc_id for r in
            phrase_search(docs, ["the", "quick", "brown"]).collect()]
    assert out3 == [1]


def test_hll_rollup_merges_fine_sketches(spark, sf_dir):
    """Mergeability: per-day sketches unioned to weeks must estimate the
    week's distinct count (not the sum of days) — the continuous-aggregate
    distinct shape."""
    from tsatool_app_spark.functions.sketches import hll_rollup
    from tsatool_app_spark.model import load_table
    import pyspark.sql.functions as F

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.date_trunc("day", F.col("ts")).cast("date"))
        .withColumn("week", F.date_trunc("week", F.col("day")).cast("date").cast("string"))
        .withColumn("day", F.col("day").cast("string"))
    )
    est = {
        r.week: r.n_distinct_est
        for r in hll_rollup(ev, ["week", "day"], ["week"], "user_id").collect()
    }
    exact = {
        r.week: r.n
        for r in ev.groupBy("week")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for week, n in exact.items():
        assert abs(est[week] - n) <= max(1, 0.025 * n)
    # distinct-union, not additive: a full week's estimate must be far
    # below the sum of its per-day exact counts (users repeat daily)
    days = ev.groupBy("week", "day").agg(F.count_distinct("user_id").alias("n"))
    sums = {r.week: r.s for r in days.groupBy("week").agg(F.sum("n").alias("s")).collect()}
    full_weeks = [w for w in exact if sums[w] >= 5 * exact[w]]
    assert full_weeks, "testdata should have at least one full week"
    for w in full_weeks:
        assert est[w] < 0.5 * sums[w]


def test_ewma_slicing_invariant_and_exact(spark):
    """The applyInPandas recurrence must equal a single-threaded reference
    fold regardless of how Spark partitions the input."""
    from tsatool_app_spark.operators.timeseries import ewma_by_key

    rows = [
        (k, i, float((i * 37 + k * 11) % 100) / 7.0)
        for k in range(5)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, value double"
    ).repartition(13)
    got = {
        (r.user_id, r.event_id): r.ewma
        for r in ewma_by_key(
            df, key_col="user_id", order_col="event_id", value_col="value"
        ).collect()
    }
    for k in range(5):
        series = [v for kk, _, v in rows if kk == k]
        y = series[0]
        assert got[(k, 0)] == y
        for i, x in enumerate(series[1:], start=1):
            y = 0.5 * x + 0.5 * y
            assert got[(k, i)] == y  # bit-exact, not approx


def test_pagerank_fixed_point_hand_computed(spark):
    """3-iteration fixed-point PageRank on an undirected star graph —
    compared against the recurrence computed by hand (int64 micro-units,
    so equality is exact)."""
    from tsatool_app_spark.operators.graph import pagerank_fixed_point

    pairs = [(1, 2), (1, 3), (1, 4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    ).repartition(7)
    got = {r.node: r.rank for r in pagerank_fixed_point(edges, iters=3).collect()}
    # n=4, r0=250000, jump=37500; leaves symmetric
    assert got == {1: 620812, 2: 126395, 3: 126395, 4: 126395}


def test_ancestor_closure_and_subtree_rollup(spark):
    """Pointer-doubling closure on a known 4-level tree, and the rollup
    sums exactly the subtree values (decimal-exact)."""
    from tsatool_app_spark.operators.graph import ancestor_closure, subtree_rollup

    #        1
    #      /   \
    #     2     3
    #    / \     \
    #   4   5     6
    #  /
    # 8
    nodes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 1), (4, 2), (5, 2), (6, 3), (8, 4)],
        "node int, parent int",
    )
    closure = {
        (r.node, r.anc) for r in ancestor_closure(nodes, max_depth=8).collect()
    }
    assert closure == {
        (2, 1), (3, 1), (4, 2), (4, 1), (5, 2), (5, 1),
        (6, 3), (6, 1), (8, 4), (8, 2), (8, 1),
    }
    vals = spark.createDataFrame(
        [(n, float(n)) for n in (1, 2, 3, 4, 5, 6, 8)], "node int, val double"
    )
    got = {
        r.node: (r.subtree_total, r.subtree_n)
        for r in subtree_rollup(nodes, vals).collect()
    }
    assert got[1] == (29.0, 7)   # whole tree
    assert got[2] == (19.0, 4)   # 2+4+5+8
    assert got[4] == (12.0, 2)   # 4+8
    assert got[8] == (8.0, 1)
    assert got[3] == (9.0, 2)    # 3+6


def test_active_counts_iso_week_year_boundary(spark):
    """2024-12-30 (ISO week 1 of 2025) must NOT merge with 2024-01 week 1."""
    from tsatool_app_spark.operators.funnel import active_counts

    rows = (
        [(u, "2024-01-03") for u in range(3)]      # ISO wk 1 / 2024
        + [(u, "2024-12-30") for u in (10, 11)]    # ISO wk 1 / 2025
    )
    import datetime as dt

    ev = spark.createDataFrame(
        [(u, dt.datetime.fromisoformat(d + "T12:00:00")) for u, d in rows],
        "user_id int, ts timestamp",
    )
    out = {str(r.day): (r.dau, r.wau) for r in active_counts(ev).collect()}
    assert out["2024-01-03"] == (3, 3)
    assert out["2024-12-30"] == (2, 2)  # merged grouping would report 5


def test_bloom_semi_join_exact_and_filters_before_join(spark):
    """bloom_semi_join == plain left-semi join on planted data (including
    keys engineered to miss), and the physical plan carries the bloom
    probe (element_at bit tests) on the fact side BEFORE the verify join."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.operators.runtime_filter import (
        bloom_semi_join,
        build_bloom_words,
        bloom_probe_col,
    )

    fact = spark.range(0, 20000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    keys = spark.range(0, 997, 3).select(F.col("id").alias("k"))
    got = sorted(
        (r["k"], r["v"]) for r in bloom_semi_join(fact, keys, "k").collect()
    )
    expect = sorted(
        (r["k"], r["v"])
        for r in fact.join(keys, "k", "left_semi").collect()
    )
    assert got == expect and len(got) > 0

    plan = bloom_semi_join(fact, keys, "k")._jdf.queryExecution().executedPlan().toString()
    assert "element_at" in plan  # probe runs scan-side, in codegen

    # No false negatives ever; FP rate bounded (probabilistic but with
    # n_bits=2^17 for ~300 keys it is ~0 — assert a loose ceiling).
    words = build_bloom_words(keys, "k").collect()[0]["bloom_words"]
    probe = (
        fact.crossJoin(F.broadcast(build_bloom_words(keys, "k")))
        .where(bloom_probe_col(F.col("k"), F.col("bloom_words"), n_bits=1 << 17, n_hashes=5))
        .count()
    )
    true_matches = len(expect)
    assert probe >= true_matches
    assert probe <= true_matches * 1.05 + 50


def test_moment_partials_are_batch_split_independent(spark):
    """Power-sum moment partials fold to bit-identical results no matter
    how the input is split (the monoid property), and finalize's
    skew/kurtosis match numpy on the dequantized values."""
    import numpy as np
    from pyspark.sql import functions as F

    from tsatool_app_spark.operators.incremental import (
        finalize_aggregate,
        merge_partials,
        partial_aggregate,
    )

    rng = np.random.default_rng(3)
    vals = rng.normal(10, 2, size=400).round(3)
    groups = rng.integers(0, 2, size=400)
    rows = [(int(g), float(v)) for g, v in zip(groups, vals)]
    df = spark.createDataFrame(rows, "g int, x double")

    whole = partial_aggregate(df, ["g"], "x", moments_scale=1000)
    a = partial_aggregate(spark.createDataFrame(rows[:150], "g int, x double"), ["g"], "x", moments_scale=1000)
    b = partial_aggregate(spark.createDataFrame(rows[150:290], "g int, x double"), ["g"], "x", moments_scale=1000)
    c = partial_aggregate(spark.createDataFrame(rows[290:], "g int, x double"), ["g"], "x", moments_scale=1000)
    merged = merge_partials(a, b, c)

    w = {r["g"]: r.asDict() for r in whole.collect()}
    m = {r["g"]: r.asDict() for r in merged.collect()}
    assert w == m

    fin = {r["g"]: r for r in finalize_aggregate(merged).collect()}
    for g in (0, 1):
        q = np.floor(vals[groups == g] * 1000)
        np.testing.assert_allclose(fin[g]["var_q"], q.var(), rtol=1e-9)
        mz = q - q.mean()
        np.testing.assert_allclose(
            fin[g]["skewness"], (mz**3).mean() / q.var() ** 1.5, rtol=1e-9
        )
        np.testing.assert_allclose(
            fin[g]["kurtosis_excess"], (mz**4).mean() / q.var() ** 2 - 3, rtol=1e-9
        )


def test_snapshot_diff_null_safe_and_classes(spark):
    """NULL→value and value→NULL transitions are changes; identical rows
    (including NULL==NULL) are not emitted; added/removed classified."""
    from tsatool_app_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y"), (4, None, None)],
        "k long, c1 string, c2 string",
    )
    new = spark.createDataFrame(
        [(1, "a", "now"), (2, "b", None), (4, None, None), (5, "new", "z")],
        "k long, c1 string, c2 string",
    )
    got = {r["k"]: (r["change"], sorted(r["changed_cols"])) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        1: ("changed", ["c2"]),   # NULL -> value
        2: ("changed", ["c2"]),   # value -> NULL
        3: ("removed", []),
        5: ("added", []),
    }  # k=4 identical incl. NULLs: not emitted


def test_join_view_incremental_maintenance_equals_recompute(spark):
    """Folding two insert-only delta rounds through the IVM delta rule
    yields exactly the full A JOIN B recompute — including cross-delta
    matches (a new order for a customer arriving in the SAME round)."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.operators.incremental import maintain_join_view

    def cust(rows):
        return spark.createDataFrame(rows, "custkey long, name string")

    def orders(rows):
        return spark.createDataFrame(rows, "orderkey long, custkey long")

    a0, b0 = cust([(1, "a"), (2, "b")]), orders([(10, 1), (11, 2)])
    view = maintain_join_view(None, None, a0, None, b0, ["custkey"])

    # round 1: new customer 3 AND their first order in the same delta
    da1, db1 = cust([(3, "c")]), orders([(12, 1), (13, 3)])
    view = maintain_join_view(view, a0, da1, b0, db1, ["custkey"])
    a1, b1 = a0.unionByName(da1), b0.unionByName(db1)

    # round 2: orders only
    da2, db2 = None, orders([(14, 2), (15, 3)])
    view = maintain_join_view(view, a1, da2, b1, db2, ["custkey"])
    a2, b2 = a1, b1.unionByName(db2)

    got = sorted((r["custkey"], r["orderkey"], r["name"]) for r in view.collect())
    full = sorted(
        (r["custkey"], r["orderkey"], r["name"])
        for r in a2.join(b2, ["custkey"]).collect()
    )
    assert got == full and len(got) == 6


def test_zorder_key_n_matches_reference_interleave(spark):
    """3-col Morton key equals a python bit-interleave reference; locality:
    adjacent cells differ in few curve positions vs random pairs."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.operators.layout import zorder_key_n

    rows = [(x, y, t) for x in range(8) for y in range(8) for t in range(4)]
    df = spark.createDataFrame(rows, "x int, y int, t int")
    out = {
        (r["x"], r["y"], r["t"]): r["z"]
        for r in df.select(
            "x", "y", "t", zorder_key_n([F.col("x"), F.col("y"), F.col("t")], bits=4).alias("z")
        ).collect()
    }

    def ref(x, y, t, bits=4, k=3):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (i * k)
            z |= ((y >> i) & 1) << (i * k + 1)
            z |= ((t >> i) & 1) << (i * k + 2)
        return z

    assert all(out[(x, y, t)] == ref(x, y, t) for x, y, t in rows)


def test_concurrency_curve_seam_ties_and_nesting(spark):
    """Back-to-back intervals don't double count at the seam; nested
    intervals stack; curve returns to zero after the last end."""
    from datetime import datetime

    from tsatool_app_spark.operators.intervals import concurrency_curve

    T = lambda m: datetime(2020, 1, 1, 0, m)
    ivs = spark.createDataFrame(
        [
            (T(0), T(10)),   # A
            (T(10), T(20)),  # B starts exactly as A ends (seam)
            (T(5), T(15)),   # C overlaps both
        ],
        "vfrom timestamp, vuntil timestamp",
    )
    got = [(r["t"].minute, r["n_active"]) for r in concurrency_curve(ivs).collect()]
    assert got == [(0, 1), (5, 2), (10, 2), (15, 1), (20, 0)]


def test_grouped_topk_pruned_equals_plain_window(spark):
    """Map-side pruning never changes the result: equality with the plain
    window on a many-partition input with heavy ties at the k boundary."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tsatool_app_spark.operators.olap import grouped_topk_pruned

    # 5 groups x 200 rows, scores with many ties, scattered over 16 partitions
    df = (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 5).alias("g"),
            (F.col("id") % 7).alias("score"),  # ties everywhere
            F.col("id").alias("uid"),
        )
        .repartition(16)
    )
    got = sorted(
        (r["g"], r["score"], r["uid"], r["rank"])
        for r in grouped_topk_pruned(
            df, ["g"], [("score", True), ("uid", False)], 4
        ).collect()
    )
    w = Window.partitionBy("g").orderBy(F.desc("score"), F.asc("uid"))
    expect = sorted(
        (r["g"], r["score"], r["uid"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 4)
        .selectExpr("g", "score", "uid", "CAST(rk AS LONG) rk")
        .collect()
    )
    assert got == expect and len(got) == 20


def test_grouped_topk_pruned_nulls_match_window(spark):
    """Null order values must survive the prune exactly as the plain
    window ranks them (asc → nulls FIRST, desc → nulls LAST)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tsatool_app_spark.operators.olap import grouped_topk_pruned

    df = (
        spark.range(0, 400)
        .select(
            (F.col("id") % 2).alias("g"),
            F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 7).alias(
                "score"
            ),
            F.col("id").alias("uid"),
        )
        .repartition(8)
    )
    for order in ([("score", False), ("uid", False)], [("score", True), ("uid", True)]):
        got = sorted(
            (r["g"], r["score"], r["uid"], r["rank"])
            for r in grouped_topk_pruned(df, ["g"], order, 5).collect()
        )
        w = Window.partitionBy("g").orderBy(
            *[(F.col(c).desc() if d else F.col(c).asc()) for c, d in order]
        )
        expect = sorted(
            (r["g"], r["score"], r["uid"], r["rk"])
            for r in df.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .selectExpr("g", "score", "uid", "CAST(rk AS LONG) rk")
            .collect()
        )
        assert got == expect


def test_kfold_assign_rejects_colliding_columns(spark):
    from pyspark.sql import functions as F

    from tsatool_app_spark.functions.sampling import kfold_assign

    docs = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("fold")
    )
    try:
        kfold_assign(docs, k=3)
        raise AssertionError("expected ValueError on pre-existing 'fold' column")
    except ValueError as e:
        assert "fold" in str(e)


def test_ewma_cross_batch_carry_seeding(spark):
    """Force tiny Arrow batches so key runs straddle batch boundaries —
    the prepend-carry seeding of the vectorized ewm kernel must continue
    the recurrence bit-exactly across every boundary."""
    from tsatool_app_spark.operators.timeseries import ewma_by_key

    rows = [
        (k, i, float((i * 13 + k * 7) % 50) / 3.0)
        for k in range(3)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, value double"
    ).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r.user_id, r.event_id): r.ewma
            for r in ewma_by_key(
                df, key_col="user_id", order_col="event_id", value_col="value"
            ).collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for k in range(3):
        series = [v for kk, _, v in rows if kk == k]
        y = series[0]
        assert got[(k, 0)] == y
        for i, x in enumerate(series[1:], start=1):
            y = 0.5 * x + 0.5 * y
            assert got[(k, i)] == y


def test_ewma_null_propagates_like_explicit_recurrence(spark):
    """NULL/NaN contract (r5 ADVICE): a NULL value at row t must poison
    y_t and every later row of that key — the explicit y=αx+(1−α)y loop's
    behavior — not be skipped-and-renormalized as bare pandas ewm would.
    Forced 7-row Arrow batches also exercise carrying a NaN state across
    batch boundaries; keys without NULLs must be untouched."""
    import math

    from tsatool_app_spark.operators.timeseries import ewma_by_key

    rows = []
    for k in range(3):
        for i in range(40):
            v = float((i * 11 + k * 5) % 30) / 4.0
            if k == 1 and i == 3:
                v = None  # poisons key 1 from row 3 onward
            rows.append((k, i, v))
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, value double"
    ).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r.user_id, r.event_id): r.ewma
            for r in ewma_by_key(
                df, key_col="user_id", order_col="event_id", value_col="value"
            ).collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for k in (0, 2):
        series = [v for kk, _, v in rows if kk == k]
        y = series[0]
        assert got[(k, 0)] == y
        for i, x in enumerate(series[1:], start=1):
            y = 0.5 * x + 0.5 * y
            assert got[(k, i)] == y
    for i in range(3):  # pre-NULL rows of key 1 follow the recurrence
        assert got[(1, i)] is not None and not math.isnan(got[(1, i)])
    for i in range(3, 40):  # NULL row and everything after → NULL/NaN
        v = got[(1, i)]
        assert v is None or math.isnan(v), f"row {i} should be poisoned, got {v}"
