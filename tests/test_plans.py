"""Physical-plan assertions: the properties SCALING.md claims must hold.

These guard against regressions that would only show up at scale (lost
filter pushdown, extra shuffles, nested-loop joins)."""

from __future__ import annotations

import re

import pytest


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pack_ranges_pushdown_and_single_shuffle(spark, sf_dir):
    from tsatool_app_spark.model import load_observations_from_events
    from tsatool_app_spark.operators.ranges import pack_ranges

    obs = load_observations_from_events(spark, sf_dir)
    df = pack_ranges(obs, 30, 9, "purchase", ">=", 50.0)
    plan = executed_plan(df)
    # key filters reach the parquet scan
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*EqualTo\(user_id,9\)", plan)
    assert re.search(r"PushedFilters:.*EqualTo\(event_type,purchase\)", plan)
    # exactly one exchange: windows + islands-merge agg reuse the partitioning
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    from tsatool_app_spark.plans.driver_queries import q_revenue_by_nation

    plan = executed_plan(q_revenue_by_nation(spark, sf_dir))
    assert len(re.findall(r"BroadcastHashJoin", plan)) == 3
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_combine_has_no_nested_loop_on_ranges(spark, sf_dir):
    """The alignment is a pivot and a carry-forward window: no join at all,
    so no nested loop over the ranges."""
    from tsatool_app_spark.plans.driver_queries import _condition_and_df

    plan = executed_plan(_condition_and_df(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_combine_tagged_single_cond_id_exchange(spark):
    """A level of conditions combines over ONE exchange, on cond_id: the
    pivot's aggregates and the carry-forward window reuse it, and nothing
    is broadcast."""
    from datetime import datetime, timedelta

    from tsatool_app_spark.operators.combine import combine_tagged

    t0 = datetime(2018, 3, 1)
    rows = [
        ("c1", "c1__a1", 0, 10, 1), ("c1", "c1__a1", 10, 20, -1),
        ("c1", "c1__a2", 5, 15, 0), ("c2", "c2__a1", 0, 30, 1),
        ("c2", "c2__a2", 30, 40, 0),
    ]
    tagged = spark.createDataFrame(
        [
            (c, u, t0 + timedelta(minutes=a), t0 + timedelta(minutes=b), s)
            for c, u, a, b, s in rows
        ],
        "cond_id string, ualias string, vfrom timestamp, vuntil timestamp, "
        "s_start int",
    )
    df = combine_tagged(
        tagged,
        {"c1": "a1 AND a2", "c2": "a1 OR NOT a2"},
        {"c1": ["a1", "a2"], "c2": ["a1", "a2"]},
    )
    plan = executed_plan(df)
    assert re.findall(r"\bExchange hashpartitioning\((\w+)", plan) == ["cond_id"]
    for node in ("BroadcastExchange", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_text_ops_scan_only_needed_columns(spark, sf_dir):
    from tsatool_app_spark.functions.text import text_stats
    from tsatool_app_spark.model import load_table

    plan = executed_plan(text_stats(load_table(spark, sf_dir, "documents")))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}  # lang/source/n_chars pruned


def test_dedup_shuffles_hash_not_text(spark, sf_dir):
    """The exact-dedup shuffle key is the md5 hash; the optimized plan's
    aggregate keys must not include the raw text column."""
    from tsatool_app_spark.functions.dedup import exact_dedup_groups
    from tsatool_app_spark.model import load_table

    plan = optimized_plan(exact_dedup_groups(load_table(spark, sf_dir, "documents")))
    agg_lines = [l for l in plan.splitlines() if "Aggregate" in l]
    assert agg_lines and all("text#" not in l.split("[")[1].split("]")[0] or "md5" in l for l in agg_lines)


def test_brute_force_topk_uses_take_ordered(spark, sf_dir):
    from tsatool_app_spark.functions.similarity import brute_force_topk
    from tsatool_app_spark.model import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.orderBy("vec_id").first().embedding)
    plan = executed_plan(brute_force_topk(emb, q, k=5))
    assert "TakeOrderedAndProject" in plan  # no global sort shuffle


def test_pack_ranges_multi_single_shuffle(spark):
    """The whole-sheet packing pass adds NO hash exchange to the stepping
    one: the in-plan sensor-key lookup adds none, and since a block reads
    one sensor key, the islands windows and agg, keyed by (sensor key,
    block_id), reuse the stepping pass's (statid, seid) partitioning."""
    from datetime import datetime, timedelta

    from tsatool_app_spark.operators.ranges import (
        pack_ranges_multi,
        prepare_stepped_obs,
    )

    rows = [
        (datetime(2018, 3, 1) + timedelta(minutes=5 * i), 1 + i % 2, 3, float(i))
        for i in range(40)
    ]
    obs = spark.createDataFrame(
        rows, "tfrom timestamp, statid int, seid int, seval float"
    )
    stepped = prepare_stepped_obs(obs, 30)
    df = pack_ranges_multi(
        stepped, [(0, 1, 3, ">=", 10.0), (1, 2, 3, "<", 20.0)]
    )
    plan = executed_plan(df)
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bucketed_join_and_agg_have_no_exchange(spark, sf_dir, tmp_path):
    """Tables bucketed on (statid, seid) must join AND aggregate on those
    keys without any shuffle — the co-located storage path SCALING.md
    prescribes for the hot join/agg keys at cluster scale."""
    from tsatool_app_spark.model import (
        load_observations_from_events,
        write_observations_bucketed,
    )

    obs = load_observations_from_events(spark, sf_dir)
    write_observations_bucketed(obs, "obs_ba", str(tmp_path / "ba"), n_buckets=4)
    write_observations_bucketed(
        obs.groupBy("statid", "seid").agg({"seval": "max"}),
        "obs_bb",
        str(tmp_path / "bb"),
        n_buckets=4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("obs_ba").join(spark.table("obs_bb"), ["statid", "seid"])
        assert "Exchange" not in executed_plan(joined)
        agg = spark.table("obs_ba").groupBy("statid", "seid").count()
        assert "Exchange" not in executed_plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS obs_ba")
        spark.sql("DROP TABLE IF EXISTS obs_bb")


def test_corpus_ops_prune_scan_columns(spark, sf_dir):
    """Corpus operators must push column pruning into the parquet scan —
    a 100 TB documents table with media/metadata columns reads only
    (doc_id, text)."""
    from tsatool_app_spark.functions.corpus import (
        chunk_documents,
        repetition_signals,
        vocab_top_terms,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        chunk_documents(docs),
        repetition_signals(docs),
        vocab_top_terms(docs),
    ):
        m = re.search(r"ReadSchema: (\S+)", executed_plan(df))
        assert m and m.group(1) == "struct<doc_id:bigint,text:string>"


def test_ivf_probe_prunes_buckets(spark, sf_dir, tmp_path):
    """The IVF probe must be an index lookup at the storage layer: with the
    embedding table bucketed by cluster, an nprobe IN-filter plans a scan of
    SelectedBucketsCount = nprobe out of n_clusters buckets (the claim in
    functions/similarity.py, r2 VERDICT #7 asked it asserted), and the
    result equals the unbucketed probe."""
    from tsatool_app_spark.functions.similarity import (
        build_ivf_index,
        ivf_ann_topk,
        write_ivf_index_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed, centroids = build_ivf_index(emb, n_clusters=16)
    write_ivf_index_bucketed(indexed, "ivf_idx", str(tmp_path / "ivf"), n_clusters=16)
    try:
        q = list(emb.orderBy("vec_id").first().embedding)
        probe = ivf_ann_topk(spark.table("ivf_idx"), centroids, q, k=10, nprobe=4)
        plan = executed_plan(probe)
        assert re.search(r"SelectedBucketsCount: 4 out of 16", plan), plan[:2000]
        # bucketed probe ≡ in-memory probe
        unbucketed = ivf_ann_topk(indexed, centroids, q, k=10, nprobe=4)
        assert [r.vec_id for r in probe.collect()] == [
            r.vec_id for r in unbucketed.collect()
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx")


def test_small_qty_revenue_broadcasts_dim(spark, sf_dir):
    """Q17 shape, r12 form: the filtered part dim reaches the lineitem
    scan as a broadcast, and the per-part mean is a WINDOW over the
    Brand#1 subset's single hashpartitioning exchange — NOT a second
    full-table aggregate joined back (the r11 shape).  Docstring and
    assertions updated per ADVICE r12: the old test text described the
    join-back shape and would have passed even if the window regressed
    to a second join."""
    from tsatool_app_spark.plans.driver_queries import q_small_qty_revenue

    df = q_small_qty_revenue(spark, sf_dir)
    df.collect()  # let AQE finalize the adaptive plan
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan  # per-part mean via window, not re-aggregation
    # exactly one hash-partitioned exchange in the FINAL plan: the
    # window's, keyed on partkey (the executedPlan string repeats the
    # pre-AQE shape under "== Initial Plan ==" — count only the final)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_order_priority_check_aggregates_before_join(spark, sf_dir):
    """Q4 shape, r12 form: EXISTS(l_shipdate > o_orderdate) is evaluated as
    MAX(l_shipdate) per orderkey — a map-side-combined aggregate (partial_max
    below the exchange) — joined inner to orders; the 6M-row lineitem
    projection is never a join build side."""
    from tsatool_app_spark.plans.driver_queries import q_order_priority_check

    plan = executed_plan(q_order_priority_check(spark, sf_dir))
    assert "partial_max" in plan  # map-side combine before the exchange
    assert "LeftSemi" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_single_reduce_then_join(spark, sf_dir):
    """MERGE plan: one window reduce of the change stream + one equi-join
    against the base — no nested loop, no repeated base scan."""
    from tsatool_app_spark.plans.driver_queries import q_merge_upsert

    plan = executed_plan(q_merge_upsert(spark, sf_dir))
    assert plan.count("RunningWindowFunction") <= 1 or "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # base (customer) is scanned exactly once
    assert plan.count("customer.parquet") <= 1


def test_weighted_sample_filter_at_scan(spark, sf_dir):
    """The corpus-mix filter is a narrow projection+filter: no exchange
    anywhere in the plan."""
    from tsatool_app_spark.plans.driver_queries import q_weighted_sample

    from tsatool_app_spark.functions.sampling import weighted_sample_by_group
    from tsatool_app_spark.model import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    df = weighted_sample_by_group(docs, "source", {"src0": 100}, "doc_id", default_rate=20)
    plan = executed_plan(df)
    assert "Exchange" not in plan


def test_funnel_single_scan_no_self_join(spark, sf_dir):
    """The k-step funnel is ONE conditional-min aggregate over one scan —
    not the textbook k-way self-join."""
    from tsatool_app_spark.plans.driver_queries import q_funnel

    plan = executed_plan(q_funnel(spark, sf_dir))
    assert "Join" not in plan  # no self-joins anywhere
    assert plan.count("events.parquet") <= 1  # events scanned once


def test_forecast_revenue_predicates_pushed(spark, sf_dir):
    """Q6 shape: all three predicates reach the parquet scan."""
    from tsatool_app_spark.plans.driver_queries import q_forecast_revenue

    plan = executed_plan(q_forecast_revenue(spark, sf_dir))
    # the date bound reaches the scan (plan string truncates filter lists,
    # so match the prefix) and the scan reads only the 4 needed columns
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipda", plan)
    assert re.search(
        r"ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        r"l_discount:double,l_shipdate:timestamp>",
        plan,
    )


def test_volume_shipping_broadcasts_all_dims(spark, sf_dir):
    """Q7 shape: the only shuffle join is lineitem⋈orders; supplier,
    customer, and both nation aliases broadcast."""
    from tsatool_app_spark.plans.driver_queries import q_volume_shipping

    plan = executed_plan(q_volume_shipping(spark, sf_dir))
    # all 4 dims broadcast; at tiny SF orders broadcasts too (5th)
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 4
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_disjunctive_revenue_pushes_quantity_bound(spark, sf_dir):
    """Q19 shape: the lineitem-only disjunct bound reaches the fact scan
    and the part side is a broadcast join."""
    from tsatool_app_spark.plans.driver_queries import q_disjunctive_revenue

    plan = executed_plan(q_disjunctive_revenue(spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_quantity,36", plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_waiting_suppliers_semi_and_anti(spark, sf_dir):
    """Q21 shape: EXISTS plans as a left-semi hash join and NOT EXISTS as a
    left-anti hash join on orderkey — no nested loops despite the non-equi
    suppkey condition riding along as a join filter."""
    from tsatool_app_spark.plans.driver_queries import q_waiting_suppliers

    plan = executed_plan(q_waiting_suppliers(spark, sf_dir))
    assert re.search(r"Join LeftSemi|LeftSemi, ", plan)
    assert re.search(r"Join LeftAnti|LeftAnti, ", plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_idle_customers_anti_join_filter_pushed(spark, sf_dir):
    """Q22 shape: the recency filter reaches the orders scan that feeds the
    anti join, so the build side shrinks before the join."""
    from tsatool_app_spark.plans.driver_queries import q_idle_customers

    plan = executed_plan(q_idle_customers(spark, sf_dir))
    assert re.search(r"Join LeftAnti|LeftAnti, ", plan)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan)


def test_segment_set_ops_shuffle_ids_only(spark, sf_dir):
    """INTERSECT/EXCEPT: every exchange partitions on user_id alone — the
    event payload columns never shuffle."""
    from tsatool_app_spark.plans.driver_queries import q_segment_set_ops

    plan = executed_plan(q_segment_set_ops(spark, sf_dir))
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "user_id" in ex
        assert "value" not in ex and "props" not in ex


def test_kfold_assign_no_forced_broadcast(spark):
    """kfold_assign must leave the components-join strategy to the
    planner: components is O(near-dup docs) on a real corpus — billions of
    rows — so a forced broadcast hint would OOM the driver. With the
    broadcast threshold disabled (simulating a components table past any
    broadcast bound), the plan must fall back to a shuffle join."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.functions.sampling import kfold_assign

    docs = spark.range(0, 10_000).select(F.col("id").alias("doc_id"))
    comps = spark.range(0, 10_000, 2).select(
        F.col("id").alias("node"), (F.col("id") % 100).alias("component")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = executed_plan(kfold_assign(docs, comps, k=5))
        assert "BroadcastHashJoin" not in plan
        assert re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_token_budget_mixture_broadcasts_rates(spark, sf_dir):
    """The rates table is |sources| rows — it must broadcast, and the
    corpus side must stay shuffle-free (one aggregate over the tiny
    grouped side only)."""
    from tsatool_app_spark.plans.driver_queries import q_token_budget_mixture

    plan = executed_plan(q_token_budget_mixture(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_near_dedup_survivors_broadcast_gated_by_count(spark):
    """The loser-set anti-join must not FORCE a broadcast: at web-crawl
    dup rates the loser set is O(corpus), and an unconditional
    F.broadcast hint collects it to the driver regardless of AQE.  The
    hint is allowed only under the counted bound (anti_join_ids); past
    the bound the plan must fall back to an id-only shuffle join —
    values identical either way."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.functions.dedup import near_dedup_survivors

    docs = spark.range(0, 2_000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("d"), "id").alias("text")
    )
    # 50 % dup rate: every odd doc pairs with its even predecessor
    pairs = spark.range(0, 2_000, 2).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    via_broadcast = near_dedup_survivors(docs, pairs)
    via_shuffle = near_dedup_survivors(docs, pairs, broadcast_limit=0)
    a = sorted(r.doc_id for r in via_broadcast.collect())
    b = sorted(r.doc_id for r in via_shuffle.collect())
    assert a == b == list(range(0, 2_000, 2))
    # under the bound the hint fires even with auto-broadcast off ...
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hinted = executed_plan(near_dedup_survivors(docs, pairs))
        assert "BroadcastHashJoin" in hinted
        # ... past it, no broadcast anywhere: the anti-join shuffles ids
        gated = executed_plan(
            near_dedup_survivors(docs, pairs, broadcast_limit=0)
        )
        assert "BroadcastHashJoin" not in gated
        assert re.search(r"SortMergeJoin|ShuffledHashJoin", gated)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_grouped_topk_window_group_limit(spark):
    """grouped_topk_pruned impl='window' must hit Spark's
    InferWindowGroupLimit rewrite: a PARTIAL-mode WindowGroupLimit
    (the in-JVM map-side prune) must appear BEFORE the exchange, and
    both impls must return identical rows."""
    from tsatool_app_spark.operators.olap import grouped_topk_pruned

    df = spark.range(4000).selectExpr(
        "id % 37 AS g",
        "CAST((id * 2654435761) % 1000003 AS DOUBLE) AS v",
        "id AS tie",
    )
    out = grouped_topk_pruned(df, ["g"], [("v", True), ("tie", False)], 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    pre_exchange = plan.split("Exchange")[-1]  # bottom-up text: deepest last
    assert "WindowGroupLimit" in pre_exchange, plan
    arrow = grouped_topk_pruned(
        df, ["g"], [("v", True), ("tie", False)], 3, impl="arrow"
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, arrow.collect())
    )
