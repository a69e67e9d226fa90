"""Driver-contract query registry: Spark implementation + DuckDB oracle pairs.

Every operator claimed in SURVEY §2 gets an entry here; the driver harness
runs the Spark callable and the oracle SQL side-by-side at sf=0.01 and
hash-compares values (CORRECTNESS_r{N}.json). Non-SQL-expressible operators
(engine-specific hash functions, approximate search) have oracle=None and get
a rows-only check.

Cross-engine determinism rules used throughout:

- monetary aggregates: cast to DECIMAL before SUM (exact, order-independent),
  cast the final scalar to DOUBLE — bit-identical in both engines;
- similarity: integer-quantized dot products (functions/similarity.py), not
  float accumulation;
- timestamps: Spark session TZ is UTC (session.get_spark) so parquet values
  compare equal to DuckDB's naive timestamps;
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsatool_app_spark.functions.dedup import exact_dedup_groups
from tsatool_app_spark.functions.similarity import lsh_ann_topk, quantized_dot
from tsatool_app_spark.functions.text import _LANG_MARKERS, lang_id_heuristic, text_stats
from tsatool_app_spark.model import load_observations_from_events, load_table
from tsatool_app_spark.operators.combine import combine_blocks
from tsatool_app_spark.operators.ranges import pack_ranges
from tsatool_app_spark.operators.summary import (
    distinct_keys,
    validity_summary,
)

# ---------------------------------------------------------------------------
# Condition-block fixtures on the events table (FIXTURES.md §4 mapping:
# ts→tfrom, user_id→statid, event_type→seid, value→seval).
# ---------------------------------------------------------------------------

_BLOCK_A = (9, "purchase", ">=", 50.0)   # u9#purchase >= 50
_BLOCK_B = (14, "error", "<", 80.0)      # u14#error < 80
_BLOCK_C = (23, "click", ">=", 20.0)     # u23#click >= 20
_MAXMIN = 30


def _obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_observations_from_events(spark, sf_dir)


def _block_df(spark, sf_dir, block) -> DataFrame:
    statid, seid, op, val = block
    return pack_ranges(_obs(spark, sf_dir), _MAXMIN, statid, seid, op, val)


def _pack_sql_cte(name: str, block, seval_expr: str = "value", time_pred: str = "") -> str:
    """DuckDB CTE implementing pack_ranges (01_init_db.sql:121-202 semantics:
    W1 lead → W2 cap → W3 sentinel → W4/W5 islands merge)."""
    statid, seid, op, val = block
    if op == "in":
        pred = f"{seval_expr} IN ({', '.join(str(v) for v in val)})"
    else:
        pred = f"{seval_expr} {op} {val}"
    return f"""
{name} AS (
  WITH {name}_obs AS (
    SELECT ts AS tfrom, {seval_expr} AS seval_x, ({pred}) AS istrue_raw
    FROM events WHERE user_id = {statid} AND event_type = '{seid}'{time_pred}
  ), {name}_w1 AS (
    SELECT tfrom AS vfrom, lead(tfrom) OVER (ORDER BY tfrom) AS next_t, istrue_raw
    FROM {name}_obs
  ), {name}_w2 AS (
    SELECT vfrom, least(next_t, vfrom + INTERVAL {_MAXMIN} MINUTE) AS vuntil,
           COALESCE(CAST(istrue_raw AS INT), -1) AS s
    FROM {name}_w1 WHERE next_t IS NOT NULL
  ), {name}_w4 AS (
    SELECT *, CASE WHEN s IS DISTINCT FROM lag(s) OVER (ORDER BY vfrom)
                   THEN 1 ELSE 0 END AS chg
    FROM {name}_w2
  ), {name}_w5 AS (
    SELECT *, SUM(chg) OVER (ORDER BY vfrom ROWS UNBOUNDED PRECEDING) AS island
    FROM {name}_w4
  )
  SELECT min(vfrom) AS vfrom, max(vuntil) AS vuntil,
         CASE WHEN min(s) = 1 THEN TRUE WHEN min(s) = 0 THEN FALSE END AS istrue
  FROM {name}_w5 GROUP BY island
)"""


def _reference_combine_sql(
    sources: dict[str, tuple[str, str]],
    master_expr: str,
    vdiff: str = "CAST(date_diff('second', m.vfrom, m.vuntil) AS BIGINT)",
) -> str:
    """The reference's combine (condition.py:364-391) as one DuckDB query:
    boundary union → LEAD pairing → one containment LEFT JOIN per block →
    Kleene master.  ``sources``: alias -> (relation, truth column), each
    relation (vfrom, vuntil, <truth column>); ``vdiff``: the duration of
    the master range ``m`` in seconds.  Output: vfrom, vuntil, vdiff_s, one
    column per alias, master.  This IS the reference's plan in portable
    SQL — deliberately a different algorithm from the Spark carry-forward
    implementation, so the oracle is an independent check; the registry
    oracles and the property tests build on it."""
    pts = " UNION ALL ".join(
        f"SELECT vfrom AS vt FROM {rel} UNION ALL SELECT vuntil FROM {rel}"
        for rel, _ in sources.values()
    )
    joins = "\n".join(
        f"LEFT JOIN {rel} AS j_{a} ON m.vfrom >= j_{a}.vfrom AND m.vfrom < j_{a}.vuntil"
        for a, (rel, _) in sources.items()
    )
    cols = ", ".join(f"j_{a}.{tc} AS {a}" for a, (_, tc) in sources.items())
    return f"""
SELECT aligned.*, ({master_expr}) AS master FROM (
  SELECT m.vfrom, m.vuntil, {vdiff} AS vdiff_s, {cols}
  FROM (SELECT * FROM (
    SELECT vt AS vfrom, lead(vt) OVER (ORDER BY vt) AS vuntil
    FROM (SELECT DISTINCT vt FROM ({pts}))) WHERE vuntil IS NOT NULL) m
  {joins}) aligned"""


def _condition_sql(blocks: dict[str, tuple], master_expr: str) -> str:
    """Reference-style condition SQL: one _pack_sql_cte per block, then
    _reference_combine_sql over them."""
    # CTE names are prefixed blk_ so the alias columns (a1, a2, …) in the
    # outer master expression can't collide with relation names.
    ctes = ",".join(_pack_sql_cte(f"blk_{a}", b) for a, b in blocks.items())
    sources = {a: (f"blk_{a}", "istrue") for a in blocks}
    return f"WITH {ctes}\n" + _reference_combine_sql(sources, master_expr)


#: One structured source of truth for the 10-condition driver sheet —
#: consumed by BOTH sheet_workload_rows (DSL strings for the engine) and
#: _sheet_workload_sql (block tuples for the oracle), so a threshold edit
#: cannot desynchronize the parity check.
_SHEET_TYPES = ["click", "view", "purchase", "error", "signup"]
_SHEET_MASTER = "b1 AND (b2 OR NOT b3)"


def _sheet_blocks(i: int) -> dict[str, tuple[int, str, str, float]]:
    t1, t2 = _SHEET_TYPES[i % 5], _SHEET_TYPES[(i + 2) % 5]
    return {
        "b1": (i, t1, ">=", 50.0),
        "b2": ((i + 3) % 10, t2, "<", 200.0),
        "b3": (i, t2, "<=", 10.0),
    }


def _sheet_workload_sql() -> str:
    """Oracle for the 10-condition sheet workload: per-condition validity
    summaries, generated from the SAME sheet definition (_sheet_blocks /
    _SHEET_MASTER) as q_sheet_workload.

    Primary conditions are the _condition_sql pattern (_pack_sql_cte per
    block, then _reference_combine_sql); the secondary chain re-applies the
    same combine with the referenced conditions' master ranges as blocks —
    the reference's level-by-level secondary semantics (block.py:195-207),
    which the engine's one-plan combine reproduces (combine_tagged)."""
    time_pred = (
        " AND ts BETWEEN TIMESTAMP '2024-01-01 00:00:00'"
        " AND TIMESTAMP '2024-12-31 23:59:59'"
    )
    ctes: list[str] = []

    def combine(prefix: str, sources: dict[str, tuple[str, str]], master_expr: str):
        """sources: alias -> (relation, truth_column). Appends the
        condition's ``{prefix}_cond`` CTE."""
        ctes.append(
            f"\n{prefix}_cond AS ({_reference_combine_sql(sources, master_expr)}\n)"
        )

    summary_rels: list[tuple[str, str]] = []
    for i in range(9):
        blocks = _sheet_blocks(i)
        for a, blk in blocks.items():
            ctes.append(_pack_sql_cte(f"c{i}{a}", blk, time_pred=time_pred))
        combine(
            f"c{i}",
            {a: (f"c{i}{a}", "istrue") for a in blocks},
            _SHEET_MASTER,
        )
        summary_rels.append((f"site{i}_c{i}", f"c{i}_cond"))
    combine("s1", {"d1": ("c0_cond", "master"), "d2": ("c1_cond", "master")}, "d1 AND d2")
    summary_rels.append(("site0_s1", "s1_cond"))

    summaries = "\nUNION ALL\n".join(
        f"""
SELECT '{cid}' AS cond_id, data_from, data_until,
       CAST(date_diff('second', data_from, data_until) AS BIGINT) AS tottime_s,
       v AS tottime_valid_s, nv AS tottime_notvalid_s,
       CAST(date_diff('second', data_from, data_until) AS BIGINT) - v - nv AS tottime_nodata_s,
       v / CAST(date_diff('second', data_from, data_until) AS BIGINT) * 100.0 AS percentage_valid,
       nv / CAST(date_diff('second', data_from, data_until) AS BIGINT) * 100.0 AS percentage_notvalid,
       (CAST(date_diff('second', data_from, data_until) AS BIGINT) - v - nv)
         / CAST(date_diff('second', data_from, data_until) AS BIGINT) * 100.0 AS percentage_nodata
FROM (
  SELECT min(vfrom) AS data_from, max(vuntil) AS data_until,
         CAST(COALESCE(SUM(CASE WHEN master THEN vdiff_s END), 0) AS BIGINT) AS v,
         CAST(COALESCE(SUM(CASE WHEN NOT master THEN vdiff_s END), 0) AS BIGINT) AS nv
  FROM {rel}
)"""
        for cid, rel in summary_rels
    )
    return "WITH " + ",".join(ctes) + "\n" + summaries


# ---------------------------------------------------------------------------
# Spark query callables
# ---------------------------------------------------------------------------


def q_pack_ranges(spark, sf_dir):
    """Flagship operator (SURVEY §2.5 W1-W5, §7.1): pack one sensor's
    readings into tri-state validity ranges."""
    return _block_df(spark, sf_dir, _BLOCK_A)


def q_pack_ranges_in(spark, sf_dir):
    """P3 'in' operator variant over a quantized value column."""
    obs = _obs(spark, sf_dir).withColumn("seval", F.floor("seval").cast("double"))
    return pack_ranges(obs, _MAXMIN, 9, "purchase", "in", tuple(range(0, 500, 10)))


def _condition_and_df(spark, sf_dir):
    return combine_blocks(
        {
            "a1": _block_df(spark, sf_dir, _BLOCK_A),
            "a2": _block_df(spark, sf_dir, _BLOCK_B),
        },
        "a1 AND a2",
    )


def q_condition_and(spark, sf_dir):
    """Two-block condition: boundary segmentation + alignment + Kleene AND
    (W6/J4/§2.8)."""
    return _condition_and_df(spark, sf_dir)


def q_condition_or_not(spark, sf_dir):
    """Three-block condition with OR/NOT/parens — Kleene edge cases."""
    return combine_blocks(
        {
            "b1": _block_df(spark, sf_dir, _BLOCK_A),
            "b2": _block_df(spark, sf_dir, _BLOCK_B),
            "b3": _block_df(spark, sf_dir, _BLOCK_C),
        },
        "(b1 OR NOT b2) AND b3",
    )


def q_condition_summary(spark, sf_dir):
    """A3 validity rollup of the two-block condition (condition.py:435-446)."""
    return validity_summary(_condition_and_df(spark, sf_dir))


def q_obs_summary_monthly(spark, sf_dir):
    """A1 monthly observation counts (observations_summary.sql:8-17; month
    kept in UTC here for engine portability — the Helsinki-local variant is
    operators.summary.observation_summary)."""
    obs = _obs(spark, sf_dir)
    return obs.groupBy(
        F.month("tfrom").alias("obs_month"),
        "statid",
        "seid",
    ).agg(
        F.count(F.lit(1)).alias("obs_count"),
        F.min("tfrom").alias("first_obs"),
        F.max("tfrom").alias("last_obs"),
    )


def q_distinct_stations(spark, sf_dir):
    """A2 — the DISTINCT the reference had to disable (cond_collection.py:131)."""
    return distinct_keys(_obs(spark, sf_dir), "statid")


def q_dedup_pk(spark, sf_dir):
    """A5 PK dedup (ON CONFLICT DO NOTHING semantics): distinct (statid,
    tfrom) per station — the statobs PK (01_init_db.sql:47)."""
    return (
        _obs(spark, sf_dir)
        .dropDuplicates(["statid", "tfrom"])
        .groupBy("statid")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )


def q_ts_parse_finnish(spark, sf_dir):
    """P6 Finnish timestamp parse round-trip (02_rawdata_schema.sql:46-57):
    format ts as 'dd.MM.yyyy HH:mm:ss,nnnnnnnnn' then parse it back by
    stripping the fraction — the exact ingest transform."""
    ev = load_table(spark, sf_dir, "events")
    fin = F.concat(F.date_format("ts", "dd.MM.yyyy HH:mm:ss"), F.lit(",000000000"))
    return ev.select(
        "event_id",
        F.to_timestamp(
            F.regexp_extract(fin, r"^(.*),", 1), "dd.MM.yyyy HH:mm:ss"
        ).alias("parsed_ts"),
    )


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped scan+agg on lineitem (generic A-class operator
    coverage); decimal-exact sums cast to double."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - d("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """Star join orders→customer→nation→region with broadcast dims
    (J2/J3-class): revenue per ASIA nation.

    r12 (guide §3.1): the ASIA filter folds region→nation→customer BEFORE
    the fact join, so orders probe ONE broadcast table holding ~1/5 of
    customers instead of three full-size ones with the region filter
    applied last.  Inner joins + a filter that only references the dim
    side — identical result."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asia_n = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        n.n_regionkey == r.r_regionkey,
    ).select("n_nationkey", "n_name")
    cn = c.join(F.broadcast(asia_n), c.c_nationkey == F.col("n_nationkey")).select(
        "c_custkey", "n_name"
    )
    return (
        o.join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_top_suppliers_per_nation(spark, sf_dir):
    """Window top-k per group (rank over partition): top-3 suppliers by
    account balance per nation."""
    from pyspark.sql import Window

    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.col("s_suppkey")
    )
    return (
        s.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("s_nationkey", "s_suppkey", "s_acctbal", "rk")
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped: 3-way join + group + deterministic top-10 by
    revenue (decimal-exact) — covers join+agg+sort+limit together."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q_above_avg_orders(spark, sf_dir):
    """Window-relative filter: orders exceeding twice their customer's
    decimal-exact average order value (correlated-subquery shape done as
    one window pass — no self-join)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_val = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        o.withColumn("cust_avg", avg_val)
        .where(F.col("o_totalprice") > 2 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


def q_dedup_exact_docs(spark, sf_dir):
    """Exact dedup groups on documents via content hash."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def q_text_stats(spark, sf_dir):
    """Text surface statistics over documents."""
    return text_stats(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    """Stopword-marker language ID over documents."""
    return lang_id_heuristic(load_table(spark, sf_dir, "documents"))


def q_embedding_dotq(spark, sf_dir):
    """Quantized integer dot product of every embedding against the min-id
    query vector — the exact, oracle-checkable core of similarity search."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").first()
    q = F.array(*[F.lit(float(v)) for v in qrow.embedding])
    return emb.select(
        "vec_id", quantized_dot(F.col("embedding"), q).alias("dotq")
    )


def q_quality_score(spark, sf_dir):
    """Heuristic document quality scoring (surface-stat arithmetic)."""
    from tsatool_app_spark.functions.text import quality_score

    return quality_score(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    """Normalized-content fingerprint (md5 of lowercased, whitespace-
    collapsed text) — the portable half of doc_fingerprint."""
    from tsatool_app_spark.functions.text import doc_fingerprint

    return doc_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint_md5"
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact 5-gram Jaccard for a deterministic candidate set (adjacent doc
    ids) — the verification stage of near-dup detection."""
    from tsatool_app_spark.functions.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return ngram_jaccard_pairs(docs, pairs, shingle_k=5)


def q_interval_overlap_join(spark, sf_dir):
    """General interval-overlap join (J4 general form) via the BUCKETED
    scale path; the oracle is the naive inequality join — verifying the
    decomposition is lossless."""
    from tsatool_app_spark.operators.intervals import interval_join_bucketed

    a = _block_df(spark, sf_dir, _BLOCK_A).select(
        F.col("vfrom").alias("a_vfrom"),
        F.col("vuntil").alias("a_vuntil"),
        F.col("istrue").alias("a_istrue"),
    )
    b = _block_df(spark, sf_dir, _BLOCK_B).select(
        F.col("vfrom").alias("b_vfrom"),
        F.col("vuntil").alias("b_vuntil"),
        F.col("istrue").alias("b_istrue"),
    )
    return interval_join_bucketed(
        a,
        b,
        bucket_seconds=86400,
        left_cols=("a_vfrom", "a_vuntil"),
        right_cols=("b_vfrom", "b_vuntil"),
    )


def q_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization of the event stream (30-min gap)."""
    from tsatool_app_spark.operators.summary import sessionize

    return sessionize(_obs(spark, sf_dir), 30)


def q_deterministic_sample(spark, sf_dir):
    """Engine-portable deterministic 20% sample of documents (md5-bucket
    membership — same rows in any engine/partitioning)."""
    from tsatool_app_spark.functions.sampling import deterministic_sample

    return deterministic_sample(
        load_table(spark, sf_dir, "documents"), 20, "doc_id"
    ).select("doc_id", "lang", "source")


def q_sql_surface(spark, sf_dir):
    """The same engine driven through spark.sql over registered views —
    SQL and DataFrame APIs compile to identical Catalyst plans."""
    from tsatool_app_spark.sql import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT statid, seid, count(*) AS n, min(tfrom) AS first_obs
        FROM observations
        WHERE seval >= 100.0
        GROUP BY statid, seid
        """
    )


def q_time_bucket_rollup(spark, sf_dir):
    """TimescaleDB-style continuous-aggregate shape: hourly per-sensor
    downsample (count/min/max/decimal-exact avg)."""
    from tsatool_app_spark.operators.timeseries import time_bucket_rollup

    return time_bucket_rollup(_obs(spark, sf_dir), 3600)


def q_asof_join(spark, sf_dir):
    """As-of join: each click event annotated with the user's most recent
    purchase value (union-tag + carry-forward plan; oracle = DuckDB's
    native ASOF LEFT JOIN)."""
    from tsatool_app_spark.operators.timeseries import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # dedup right on (user, ts) so equal-timestamp winners are well-defined
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        left,
        right,
        on_keys=["user_id"],
        left_time="ts",
        right_time="ts",
        value_cols=["purchase_value"],
    )


def q_salted_sum(spark, sf_dir):
    """Skew-safe two-stage salted aggregation; decimal-exact, so the oracle
    is the plain single-stage GROUP BY."""
    from tsatool_app_spark.operators.skew import salted_sum

    return salted_sum(
        load_table(spark, sf_dir, "events").select(
            F.col("user_id").alias("statid"), "value"
        ),
        ["statid"],
        "value",
    )


def q_ann_topk_exact(spark, sf_dir):
    """Exact top-k nearest neighbours (the ANN ground-truth baseline):
    one scan, per-partition top-k + single merge (TakeOrdered — no global
    sort). Ranking by the quantized integer dot product makes the ordering
    engine-exact, so the whole top-k is oracle-checkable (float cosine would
    tie-break differently across engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").first()
    q = F.array(*[F.lit(float(v)) for v in qrow.embedding])
    return (
        emb.select("vec_id", quantized_dot(F.col("embedding"), q).alias("dotq"))
        .orderBy(F.desc("dotq"), "vec_id")
        .limit(10)
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing, driver-visible: documents' text re-materialized
    as an opaque ``binary`` content column (the media shape), then a
    mapInPandas metadata kernel — Arrow binary transfer in, typed metadata
    out, bytes never in a shuffle (functions/multimodal design rules).
    Oracle-checkable because the kernel's outputs (byte length, md5) are
    byte-deterministic."""
    import hashlib

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_bytes", LongType(), True),
            StructField("content_md5", StringType(), True),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(bytes(b)) for b in pdf["content"]],
                    "content_md5": [
                        hashlib.md5(bytes(b)).hexdigest() for b in pdf["content"]
                    ],
                }
            )

    return media.mapInPandas(kernel, out_schema)


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (64-token chunks, 16 overlap) —
    the pre-embedding step of a training pipeline; zero-shuffle plan."""
    from tsatool_app_spark.functions.corpus import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap_tokens=16
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (top word/bigram counts,
    repeated-trigram excess) as per-row array folds — no explode shuffle."""
    from tsatool_app_spark.functions.corpus import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


def q_redact_pii(spark, sf_dir):
    """PII redaction (emails + long digit runs). The corpus has no natural
    PII, so matches are planted deterministically (doc_id % 10) — the check
    verifies both the hit and the no-op path on every row."""
    from tsatool_app_spark.functions.corpus import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 123456789 now"),
            ),
        ).otherwise(F.col("text")),
    )
    return redact_pii(planted)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language quota sample (20 docs/lang by md5(id)
    order) — training-mix balancing without a random seed."""
    from tsatool_app_spark.functions.corpus import stratified_sample_n

    return stratified_sample_n(load_table(spark, sf_dir, "documents"), 20, "lang")


def q_top_terms(spark, sf_dir):
    """Top-3 terms per document by (tf desc, term asc) — integer/string
    ranking only, so the selection is engine-exact."""
    from tsatool_app_spark.functions.corpus import top_terms

    return top_terms(load_table(spark, sf_dir, "documents"), k=3)


def q_vocab_top_terms(spark, sf_dir):
    """Corpus vocabulary: top-100 terms by total frequency with document
    frequencies — map-side-combined single global aggregation."""
    from tsatool_app_spark.functions.corpus import vocab_top_terms

    return vocab_top_terms(load_table(spark, sf_dir, "documents"), n=100)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing an 8-word-gram with the
    deterministic 'benchmark' subset (doc_id % 97 == 0); benchmark grams
    broadcast, and the gram explode + probe runs over one representative
    per distinct text (functions/corpus.contamination_hits dedup_texts)
    so clone mass never reaches the explode — output identical, pinned
    by test."""
    from tsatool_app_spark.functions.corpus import contamination_hits

    docs = load_table(spark, sf_dir, "documents")
    return contamination_hits(docs, docs.where(F.col("doc_id") % 97 == 0), n=8)


def sheet_workload_rows() -> list[tuple[str, str, str]]:
    """The 10-condition driver sheet (23 block evals, AND/OR/NOT, one
    secondary chain) — rendered from the same _sheet_blocks/_SHEET_MASTER
    definition the SQL oracle consumes, so they cannot drift; shared by
    q_sheet_workload, its oracle generator, and the streaming-parity
    test."""

    def term(blk):
        statid, seid, op, val = blk
        v = int(val) if float(val).is_integer() else val
        return f"u{statid}#{seid} {op} {v}"

    rows = []
    for i in range(9):
        b = {a: term(blk) for a, blk in _sheet_blocks(i).items()}
        expr = _SHEET_MASTER
        for a in sorted(b, reverse=True):  # b3 before b1: no prefix clobber
            expr = expr.replace(a, b[a])
        rows.append((f"site{i}", f"C{i}", expr))
    rows.append(("site0", "S1", "C0 AND site1#C1"))  # secondary chain
    return rows


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (pretraining batch construction): docs
    hashed to shards, ordered by id within shard, greedily packed into
    256-whitespace-token bins (close the bin when the next doc would
    overflow; over-budget docs get their own bin). The Spark side
    (`functions/corpus.py:pack_sequences`) computes token counts JVM-side
    and shuffles ONLY (id, shard, n_tokens) int triples into the per-shard
    ``applyInPandas`` scan — the sequential-greedy part — while the oracle
    replays the same scan with a recursive CTE."""
    from tsatool_app_spark.functions.corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=256, n_shards=8).orderBy("doc_id")


def q_sheet_workload(spark, sf_dir):
    """The engine's headline workload: a 10-condition sheet (23 block
    evals, AND/OR/NOT, one secondary chain) executed end-to-end through the
    runner — one-pass packing, one combine plan for the whole sheet
    (secondary chain included), summaries. Oracle: _sheet_workload_sql()
    regenerates the whole sheet (including the secondary chain) as
    portable SQL from the same sheet definition, level by level."""
    from datetime import datetime

    from tsatool_app_spark.runner import CondCollection

    coll = CondCollection.from_rows(
        "bench", datetime(2024, 1, 1), datetime(2024, 12, 31), sheet_workload_rows()
    )
    res = coll.run(_obs(spark, sf_dir))
    return CondCollection.summaries_df(res)


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pipeline, end to end: banded candidate
    generation → exact n-gram-Jaccard verification → threshold filter.

    Oracle-checkable even though xxhash64 itself is engine-specific: the
    corpus's true near-dup pairs sit at Jaccard ≥ 0.97 (next pair down is
    < 0.6), and at 64 hashes / 8 bands the per-pair miss probability at
    J = 0.97 is (1−0.97⁸)⁸ ≈ 5·10⁻⁶ — so the verified output equals the
    exact all-pairs answer, which DuckDB computes with the candidate-
    restricted sub-quadratic oracle. The pipeline dedups exact-duplicate
    texts FIRST and runs LSH + verify over one representative per distinct
    text (functions/dedup.near_dup_pairs_dedup_first) — the 100 TB shape
    for clone-heavy corpora; output is identical to the raw-corpus
    pipeline (pinned by test) and recall only improves (no clone
    mega-buckets)."""
    from tsatool_app_spark.functions.dedup import near_dup_pairs_dedup_first

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs_dedup_first(docs, min_jaccard=0.85)


def q_dedup_components(spark, sf_dir):
    """Cluster-level near-dedup: LSH candidates → exact-Jaccard verify →
    connected components over the verified-pair graph → ``(doc_id,
    component)`` with component = min doc id of the duplicate cluster.

    The step every pairwise dedup needs before it can DROP anything: a
    cluster of d near-identical docs surfaces as up to d(d−1)/2 pairs and
    "keep one per cluster" is the transitive closure. Spark side is
    pointer-jumping min-label propagation (O(log n) rounds of int-pair
    hash joins — `functions/dedup.py:connected_components`); the oracle
    computes the same closure with a recursive CTE over the exact
    all-pairs edge set. Hash-equality holds for the same reason
    minhash_pairs is oracle-checkable: at 64 hashes / 8 bands the corpus's
    true near-dup pairs (J ≥ 0.97) are found with ~1−5·10⁻⁶ probability,
    so the verified edge set equals the exact one.  Edges come from the
    dedup-first pipeline (see q_minhash_pairs)."""
    from tsatool_app_spark.functions.dedup import (
        connected_components,
        near_dup_pairs_dedup_first,
    )

    docs = load_table(spark, sf_dir, "documents")
    verified = near_dup_pairs_dedup_first(docs, min_jaccard=0.85).select(
        "id_a", "id_b"
    )
    return (
        connected_components(verified)
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via RHP-LSH buckets + exact
    rerank, hash-checked against a brute-force all-pairs DuckDB oracle.

    Two constructions make the approximate pipeline oracle-exact here:
    (a) five deterministic near-dup clones (vec_id+1_000_000, vector scaled
    ×1.001 — cosine ≈ 1, identical RHP sign pattern, so LSH recall on them
    is certain) are planted, because the synthetic corpus has no natural
    cosine≥0.8 pairs; (b) the input is restricted to a deterministic subset
    (vec_id % 20 == 0) so the oracle's O(n²) exact check stays bounded at
    any driver scale factor. The unrestricted scale path is exercised in
    tests/test_parity_extras.py and SCALING.md."""
    from tsatool_app_spark.functions.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 20 == 0)
    base = emb.orderBy("vec_id").limit(5).collect()
    planted = spark.createDataFrame(
        [
            (int(r.vec_id) + 1_000_000, [float(x) * 1.001 for x in r.embedding], r.label)
            for r in base
        ],
        schema=emb.schema,
    )
    return embedding_near_dup_pairs(emb.unionByName(planted), min_cosine=0.8).select(
        "id_a", "id_b"
    )


def _planted_ann_corpus(spark, sf_dir, id_base: int):
    """Shared construction that makes an approximate top-k oracle-exact:
    remove the query's own row, then plant exactly k=10 positively-scaled
    clones of the query vector (ids ``id_base+j``, scale 1+(j+1)/1000).

    Why this pins the answer: cosine is scale-invariant, so every clone's
    cosine to q is ~1 (float32 storage perturbs it by <1e-12), while the
    nearest NATURAL vector sits below 0.41 on this corpus (measured at
    sf0.01 and sf0.1) — the true top-10 is exactly the clone set, at any
    tie-break order.  Positive scaling also preserves every random-
    hyperplane sign and the k-means argmin, so LSH/IVF retrieval of the
    clones is certain, making approximate == exact and therefore
    hash-checkable against a brute-force oracle (the recipe proven by
    q_embedding_near_dups).

    The corpus drops every EXACT COPY of the query vector, not just the
    query's own row: a clone-replicated tier (scripts/gen_sf1.py stores
    10 byte-identical copies of every embedding under shifted ids) would
    otherwise keep 9 natural rows at cosine exactly 1.0 — ABOVE the
    scaled clones' 1-1e-12 — and the "nearest natural < 0.41" premise
    collapses into an engine-specific tie-break (found by the r6 full
    sf1 value sweep: 148/150 green, these two red).  The float32→double
    widening is exact in both engines, so copy-equality is bit-exact and
    the oracle mirrors it."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").first()
    q = [float(x) for x in qrow.embedding]
    clones = spark.createDataFrame(
        [
            (id_base + j, [x * (1.0 + (j + 1) / 1000.0) for x in q], None)
            for j in range(10)
        ],
        schema=emb.schema,
    )
    q_lit = F.array(*[F.lit(x) for x in q])
    corpus = emb.where(
        F.col("embedding").cast("array<double>") != q_lit
    ).unionByName(clones)
    return corpus, q


def q_ivf_ann(spark, sf_dir):
    """IVF-bucketed approximate nearest neighbours, hash-checked: the
    planted-clone construction (see _planted_ann_corpus) makes the true
    top-10 certain; the query's cluster is by definition the nearest
    centroid, so nprobe>=1 scans it and retrieves all clones.  The oracle
    is the exact brute-force top-10 over the same planted corpus — the
    check asserts recall == 1.0 on a workload where that is guaranteed."""
    from tsatool_app_spark.functions.similarity import build_ivf_index, ivf_ann_topk

    corpus, q = _planted_ann_corpus(spark, sf_dir, 3_000_000)
    indexed, centroids = build_ivf_index(corpus, n_clusters=16)
    return (
        ivf_ann_topk(indexed, centroids, q, k=10, nprobe=4)
        .select("vec_id")
        .orderBy("vec_id")
    )


def q_lsh_ann(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours, hash-checked: planted
    clones share the query's full RHP signature (positive scaling preserves
    every hyperplane sign), so every band matches and retrieval is certain;
    the exact cosine rerank then must rank them above every natural vector
    (margin ~1.0 vs <0.41).  Oracle: exact brute-force top-10 over the same
    planted corpus."""
    corpus, q = _planted_ann_corpus(spark, sf_dir, 2_000_000)
    return lsh_ann_topk(corpus, q, k=10).select("vec_id").orderBy("vec_id")


def q_json_props(spark, sf_dir):
    """Semi-structured extraction (functions/semistructured.py): parse the
    events JSON properties bag once with an explicit schema (from_json fast
    path), then aggregate the typed field — the jsonb-metadata capability
    the reference reserves but never exercises (SURVEY §1.1)."""
    from tsatool_app_spark.functions.semistructured import extract_json_fields

    ev = extract_json_fields(
        load_table(spark, sf_dir, "events"), "props", {"k": "long"}
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_line_filter(spark, sf_dir):
    """C4-style line-level quality filtering (functions/corpus.py):
    fixed-window line segmentation + min-words/stopword keep rules,
    re-joined text. Zero-shuffle per-row array plan."""
    from tsatool_app_spark.functions.corpus import line_quality_filter

    return line_quality_filter(load_table(spark, sf_dir, "documents"))


def q_keyword_search(spark, sf_dir):
    """Bag-of-terms retrieval (functions/search.py): integer tf ranking so
    the top-k is engine-exact; the float BM25 twin is pytest-verified
    (tests/test_ops_extra.py) per the ANN-variant evidence policy."""
    from tsatool_app_spark.functions.search import keyword_search

    return keyword_search(
        load_table(spark, sf_dir, "documents"), ["spark", "window", "hash"], k=20
    )


def q_rolling_features(spark, sf_dir):
    """Trailing-window features per user (operators/timeseries.py):
    5-row rolling sum/count/max over the event stream; decimal-exact sum."""
    from tsatool_app_spark.operators.timeseries import rolling_features

    return rolling_features(
        load_table(spark, sf_dir, "events"),
        key_cols=("user_id",),
        time_col="ts",
        value_col="value",
        order_tiebreak=("event_id",),
        window_rows=5,
    )


def q_percentile_disc(spark, sf_dir):
    """Discrete percentiles per event type (operators/olap.py): value at
    rank ceil(p·n) — a selection, not an interpolation, hence hash-exact."""
    from tsatool_app_spark.operators.olap import percentile_disc_by_group

    return percentile_disc_by_group(
        load_table(spark, sf_dir, "events"),
        "event_type",
        "value",
        [0.5, 0.9, 0.99],
        tiebreak_cols=("event_id",),
    ).orderBy("event_type")


def q_sales_rollup(spark, sf_dir):
    """Grouping-set subtotals (operators/olap.py): ROLLUP over
    (returnflag, linestatus) with decimal-exact measure sums; rolled-up
    levels rendered as the '<ALL>' sentinel on both engines."""
    from tsatool_app_spark.operators.olap import rollup_totals

    return rollup_totals(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        {"qty": "l_quantity", "price": "l_extendedprice"},
    ).orderBy("l_returnflag", "l_linestatus")


#: Pivot columns for q_pivot_event_values — explicit so the plan is a single
#: conditional aggregate (no distinct-values pre-pass) on both engines.
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _synthetic_changes(spark, sf_dir):
    """Deterministic CDC change stream derived from orders: op/seq/new-image
    columns for apply_changes; mirrored verbatim by the oracle's CTE."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("cust_"), F.col("o_custkey").cast("string")).alias("c_name"),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )


def q_merge_upsert(spark, sf_dir):
    """MERGE / SCD1 apply-changes (operators/cdc.py): terminal change per
    key wins, 'D' deletes, unmatched changes insert. seq = o_orderkey is
    unique, so the terminal pick needs no tiebreak."""
    from tsatool_app_spark.operators.cdc import apply_changes

    base = load_table(spark, sf_dir, "customer")
    return apply_changes(
        base, _synthetic_changes(spark, sf_dir), "c_custkey", "seq"
    ).orderBy("c_custkey")


def q_scd2_history(spark, sf_dir):
    """SCD2 validity intervals (operators/cdc.py) from the purchase change
    stream: valid_from/valid_to via lead over (user, ts, event_id)."""
    from tsatool_app_spark.operators.cdc import scd2_history

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    return scd2_history(ev, "user_id", "ts", ["event_id", "value"])


def q_pivot_event_values(spark, sf_dir):
    """Wide pivot (operators/olap.py): per-user sum(value) column per event
    type, explicit value list, one conditional-sum aggregate."""
    from tsatool_app_spark.operators.olap import pivot_table

    return pivot_table(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        _EVENT_TYPES,
        "value",
    ).orderBy("user_id")


def q_cube_sales(spark, sf_dir):
    """CUBE subtotals (operators/olap.py): all subsets of
    (o_orderpriority, year) in ONE grouping-set aggregate."""
    from tsatool_app_spark.operators.olap import cube_totals

    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    )
    return cube_totals(
        o, ["o_orderpriority", "o_year"], {"price": "o_totalprice"}
    ).orderBy("o_orderpriority", "o_year")


def q_order_priority_check(spark, sf_dir):
    """EXISTS-style filter (TPC-H Q4 shape): orders with at least one line
    shipped after the order date, counted by priority.

    r12 (guide §2.3 aggregate-before-shuffle): EXISTS(l_shipdate >
    o_orderdate) over an order's lines ⟺ MAX(l_shipdate) > o_orderdate,
    so lineitem is pre-aggregated to one (orderkey, max_shipdate) row —
    map-side combined, ~4 lines collapse per key BEFORE the exchange —
    and the semi join becomes an inner join against the unique-key
    aggregate.  The r11 shape broadcast the 6M-row (orderkey, shipdate)
    lineitem projection as the semi-join build side.  Identical result:
    MAX ignores NULLs exactly as EXISTS's > does, the aggregate key is
    unique so the inner join cannot duplicate orders, and line-less
    orders drop under both forms."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    mx = l.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("max_ship"))
    return (
        o.join(mx, o.o_orderkey == mx.l_orderkey)
        .where(F.col("max_ship") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q_customer_distribution(spark, sf_dir):
    """Left-outer + double aggregate (TPC-H Q13 shape): distribution of
    per-customer order counts including zero-order customers.

    r12 (guide §2.3 "aggregate before you shuffle"): orders are counted
    per custkey FIRST — a map-side-combined aggregate whose exchange
    carries one (key, count) partial per group — and the count table
    (≤|customer| rows) joins customer left-outer with COALESCE(…, 0) for
    the zero-order tail.  The r11 shape broadcast the full 1.5M-row
    orders projection and re-aggregated the 1.5M-row JOIN OUTPUT by
    custkey; identical result (o_orderkey is the orders PK — never NULL —
    so count(o_orderkey) per customer ≡ the pre-join group count, and
    unmatched customers get 0 either way)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ocnt = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_ord")
    )
    per_cust = (
        c.select("c_custkey")
        .join(ocnt, "c_custkey", "left_outer")
        .select(F.coalesce(F.col("n_ord"), F.lit(0).cast("long")).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_small_qty_revenue(spark, sf_dir):
    """Correlated-average join (TPC-H Q17 shape): revenue of Brand#1 lines
    below 20% of their part's mean quantity. The per-part mean is an exact
    decimal-sum/count (order-independent, hence engine-identical).

    r12 (guide §2.3/§2.4): ONE pass — lineitem probes the broadcast
    Brand#1 part list first (drops ~96% of fact rows), and the per-part
    mean is a window over the surviving rows' single partkey exchange,
    replacing the r11 shape's FULL-table aggregate (a ~200k-group shuffle
    whose partial aggregation barely shrank it) plus a 200k-row broadcast
    build.  Identical result: every line of a part carries that part's
    brand, so the per-part mean over the Brand#1 subset equals the mean
    over the full table for every part that survives the join, and the
    window's sum/count are the same exact decimal/long the aggregate
    produced."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    w = Window.partitionBy("l_partkey")
    return (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == p.p_partkey)
        .withColumn(
            "avg_qty",
            F.sum(F.col("l_quantity").cast("decimal(20,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
        )
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(20,6)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


def q_table_profile(spark, sf_dir):
    """Single-pass per-column profile (functions/profile.py) over orders."""
    from tsatool_app_spark.functions.profile import table_profile

    return table_profile(
        load_table(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_custkey", "o_totalprice", "o_orderpriority"],
    ).orderBy("column")


def q_histogram_prices(spark, sf_dir):
    """Exact fixed-width histogram (functions/profile.py) of order totals."""
    from tsatool_app_spark.functions.profile import fixed_width_histogram

    return fixed_width_histogram(
        load_table(spark, sf_dir, "orders"), "o_totalprice", 0.0, 500000.0, 20
    )


def q_ntile_quality(spark, sf_dir):
    """Curriculum-style decile bucketing (operators/olap.py): NTILE(10)
    over the (already-oracle-green) quality score with doc_id tiebreak,
    rolled up to per-bucket counts and score ranges."""
    from tsatool_app_spark.functions.text import quality_score
    from tsatool_app_spark.operators.olap import ntile_buckets

    scored = quality_score(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    return (
        ntile_buckets(scored, ["quality", "doc_id"], 10)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("min_score"),
            F.max("quality").alias("max_score"),
        )
        .orderBy("bucket")
    )


#: Per-source sampling rates for q_weighted_sample (corpus-mixing shape).
_MIX_RATES = {"src0": 100, "src1": 50, "src2": 10}
_MIX_DEFAULT = 20


def q_weighted_sample(spark, sf_dir):
    """Deterministic per-source sampling rates (functions/sampling.py):
    one scan, one CASE-over-md5 filter — the corpus-mixing primitive."""
    from tsatool_app_spark.functions.sampling import weighted_sample_by_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return weighted_sample_by_group(
        docs, "source", _MIX_RATES, "doc_id", default_rate=_MIX_DEFAULT
    ).orderBy("doc_id")


def q_rolling_time_window(spark, sf_dir):
    """RANGE-frame trailing time window (operators/timeseries.py): 10-minute
    wall-clock sum/count per station, epoch-ordered so equal-second rows are
    peers (deterministic without a unique tiebreak)."""
    from tsatool_app_spark.operators.timeseries import rolling_time_window

    return rolling_time_window(_obs(spark, sf_dir), 600)


def q_clean_corpus(spark, sf_dir):
    """Composed cleaning pipeline (functions/corpus.py): lang filter +
    quality floor + exact-dedup survivorship + redaction + token counts in
    one DAG whose only shuffle is the dedup groupBy on md5."""
    from tsatool_app_spark.functions.corpus import clean_corpus

    return clean_corpus(
        load_table(spark, sf_dir, "documents"), lang="en", min_quality=0.6
    ).orderBy("doc_id")


def q_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance (operators/incremental.py): fold a
    mid-month delta into a first-half snapshot and read the merged
    aggregate — the oracle recomputes from scratch, proving the fold is
    exact (decimal partials make it order-independent)."""
    from tsatool_app_spark.operators.incremental import (
        finalize_aggregate,
        merge_partials,
        partial_aggregate,
    )

    ev = load_table(spark, sf_dir, "events")
    first_half = ev.where(F.dayofmonth("ts") < 15)
    second_half = ev.where(F.dayofmonth("ts") >= 15)
    snap = partial_aggregate(first_half, ["event_type"], "value")
    delta = partial_aggregate(second_half, ["event_type"], "value")
    return finalize_aggregate(merge_partials(snap, delta)).orderBy("event_type")


def q_zorder_key(spark, sf_dir):
    """Z-order layout key (operators/layout.py): Morton interleave of
    (user_id, floor(value)); the oracle's bit expression is generated from
    the same Python loop. Top-100 edge keeps the result bounded."""
    from tsatool_app_spark.operators.layout import zorder_key

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            zorder_key(
                F.col("user_id"), F.floor(F.col("value")).cast("long"), 10
            ).alias("zkey"),
        )
        .orderBy(F.desc("zkey"), F.desc("event_id"))
        .limit(100)
    )


_FUNNEL_STEPS = ["signup", "view", "purchase"]


def q_funnel(spark, sf_dir):
    """Strictly-ordered funnel (operators/funnel.py): one conditional-min
    aggregate per step over ONE scan — no k-way self-join."""
    from tsatool_app_spark.operators.funnel import funnel_counts

    return funnel_counts(
        load_table(spark, sf_dir, "events"), _FUNNEL_STEPS
    ).orderBy("step")


def q_cohort_retention(spark, sf_dir):
    """Daily cohort × offset activity matrix (operators/funnel.py)."""
    from tsatool_app_spark.operators.funnel import cohort_retention

    return cohort_retention(
        load_table(spark, sf_dir, "events"), 86400
    ).orderBy("cohort_period", "offset")


def q_salted_join(spark, sf_dir):
    """Salted big-big equi-join (operators/skew.py): hot keys spread over
    salt buckets, other side replicated; result row-identical to the plain
    join — the oracle IS the plain join."""
    from tsatool_app_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_acctbal"
    )
    return (
        salted_join(ev, cust, "k", salt_buckets=8)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_val"),
        )
        .orderBy("k")
    )


def q_forecast_revenue(spark, sf_dir):
    """Range-filter aggregate (TPC-H Q6 shape): every predicate is
    scan-pushable (date range, discount band, quantity cap), so the plan
    is scan → one-row partial agg — the pushdown showcase. Exact decimal
    product of (price × discount) before the sum."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # price/discount are exact 2-dp values: (12,2)x(3,2) -> (16,4)
            # stays far under BOTH engines' decimal caps (a (20,6)x(20,6)
            # product would exceed DuckDB's width-38 cap and silently
            # demote to double, drifting in the last ulp)
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_promo_share(spark, sf_dir):
    """Conditional-ratio aggregate over a broadcast dim join (TPC-H Q14
    shape): share of revenue from PROMO parts in one month."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct")
        )
    )


def q_quality_gate(spark, sf_dir):
    """Declarative constraint gate (functions/quality_gate.py): per-rule
    violation counts from the quarantine side — scan-speed rule compile,
    one small aggregate."""
    from tsatool_app_spark.functions.quality_gate import (
        check_constraints,
        in_range,
        matches,
        not_null,
    )

    ev = load_table(spark, sf_dir, "events")
    rules = [
        in_range("value", 0, 450),
        matches("event_type", "^[a-z]{4,8}$"),
        not_null("props"),
    ]
    return (
        check_constraints(ev, rules)
        .select(F.explode("violations").alias("violation"))
        .groupBy("violation")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("violation")
    )


def q_value_buckets(spark, sf_dir):
    """Distributed quantile bucketing (operators/olap.py scale path): no
    row-level total order; ties share buckets by construction."""
    from tsatool_app_spark.operators.olap import quantile_buckets_by_value

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        quantile_buckets_by_value(docs, "n_chars", 10)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


def q_funnel_windowed(spark, sf_dir):
    """Windowed funnel (operators/funnel.py): each step within 2 hours of
    the previous — the product-metric funnel form."""
    from tsatool_app_spark.operators.funnel import funnel_counts_windowed

    return funnel_counts_windowed(
        load_table(spark, sf_dir, "events"), _FUNNEL_STEPS, 7200
    ).orderBy("step")


def q_active_counts(spark, sf_dir):
    """DAU/WAU engagement rollup (operators/funnel.py): distinct actives
    per calendar day and ISO week. The day renders as a STRING on both
    sides — pandas widens DuckDB dates to midnight timestamps, which
    string-level comparisons would flag as a spurious mismatch."""
    from tsatool_app_spark.operators.funnel import active_counts

    out = active_counts(load_table(spark, sf_dir, "events"))
    return out.select(
        F.col("day").cast("string").alias("day"), "dau", "wau"
    ).orderBy("day")


def q_phrase_search(spark, sf_dir):
    """Positional-postings phrase match (functions/search.py): docs where
    'fast table' appear adjacent in order; term filter lands pre-shuffle."""
    from tsatool_app_spark.functions.search import phrase_search

    return phrase_search(
        load_table(spark, sf_dir, "documents"), ["fast", "table"]
    )


def q_pit_lookup(spark, sf_dir):
    """Point-in-time feature lookup (operators/cdc.py): for every click,
    the purchase value in effect at that instant — the leak-free
    feature-store join, via carry-forward as-of (one key shuffle)."""
    from tsatool_app_spark.operators.cdc import point_in_time_join, scd2_history

    ev = load_table(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    hist = scd2_history(
        ev.where(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        ["event_id", "value"],
    ).select("user_id", "valid_from", "value")
    return point_in_time_join(
        probes, hist, "user_id", "ts", ["value"]
    ).orderBy("event_id")


def q_bigram_lm(spark, sf_dir):
    """Bigram language-model counts (token-pair zip, no per-token window):
    top pairs with conditional probability n(w1,w2)/n(w1·)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
    )
    grams = docs.select(F.explode(pairs).alias("p")).select(
        F.col("p.0").alias("w1"), F.col("p.1").alias("w2")
    )
    counts = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    w1_tot = counts.groupBy("w1").agg(F.sum("n").alias("n_w1"))
    return (
        counts.join(F.broadcast(w1_tot), "w1")
        .select(
            "w1",
            "w2",
            F.col("n").cast("long").alias("n"),
            (F.col("n").cast("double") / F.col("n_w1")).alias("p_cond"),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(50)
    )


def q_transitions(spark, sf_dir):
    """Markov transition counts (operators/funnel.py): one lag window per
    user + one pair aggregate."""
    from tsatool_app_spark.operators.funnel import transition_counts

    return transition_counts(
        load_table(spark, sf_dir, "events"), order_tiebreak=("event_id",)
    ).orderBy("from_type", "to_type")


def q_first_touch(spark, sf_dir):
    """First-touch attribution (operators/funnel.py): one struct-min
    aggregate per user, no window."""
    from tsatool_app_spark.operators.funnel import first_touch_attribution

    return first_touch_attribution(
        load_table(spark, sf_dir, "events"),
        "purchase",
        order_tiebreak=("event_id",),
    ).orderBy("first_touch_type")


def q_chi2_cells(spark, sf_dir):
    """lang × source contingency with chi-square contributions
    (functions/stats.py): exact-integer counts, per-cell float identical
    on both engines (no float SUM anywhere)."""
    from tsatool_app_spark.functions.stats import contingency_chi2_cells

    return contingency_chi2_cells(
        load_table(spark, sf_dir, "documents"), "lang", "source"
    ).orderBy("lang", "source")


def q_ab_ztest(spark, sf_dir):
    """Two-proportion z-test (functions/stats.py): odd vs even users,
    success = any purchase event; one conditional-count aggregate."""
    from tsatool_app_spark.functions.stats import two_proportion_ztest

    ev = load_table(spark, sf_dir, "events")
    return two_proportion_ztest(
        ev,
        F.col("user_id") % 2 == 0,
        F.col("event_type") == "purchase",
    )


def q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier flags per event type (functions/mlprep.py):
    discrete quartiles broadcast back onto the scan."""
    from tsatool_app_spark.functions.mlprep import iqr_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return iqr_outliers(
        ev, "event_type", "value", tiebreak_cols=("event_id",)
    ).orderBy("event_id")


def q_zscore(spark, sf_dir):
    """Per-group z-score standardization (functions/mlprep.py):
    decimal-exact moments, one broadcast join, two float divisions."""
    from tsatool_app_spark.functions.mlprep import zscore_by_group

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return zscore_by_group(ev, "event_type", "value").orderBy("event_id")


def q_gapfill_interp(spark, sf_dir):
    """Linear-interpolation resample (operators/timeseries.py): same grid
    as q_gapfill, gaps filled by interpolation instead of carry-forward."""
    from tsatool_app_spark.operators.timeseries import gapfill_interpolate

    obs = _obs(spark, sf_dir).where(F.col("tfrom") < F.lit("2024-01-04"))
    return gapfill_interpolate(obs, 3600)


def q_time_weighted_avg(spark, sf_dir):
    """Duration-weighted mean per station (operators/timeseries.py):
    decimal-exact weighted sum, one final float division."""
    from tsatool_app_spark.operators.timeseries import time_weighted_avg

    return time_weighted_avg(
        _obs(spark, sf_dir), order_tiebreak=("seid", "seval")
    ).orderBy("statid")


def q_counter_deltas(spark, sf_dir):
    """Counter increments with reset handling (operators/timeseries.py):
    one lag window per station over the event stream."""
    from tsatool_app_spark.operators.timeseries import counter_deltas

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("statid"),
        F.col("ts").alias("tfrom"),
        "event_id",
        F.col("value").alias("seval"),
    )
    return counter_deltas(ev, order_tiebreak=("event_id",))


def q_gapfill(spark, sf_dir):
    """Dense-grid resample with carry-forward (operators/timeseries.py):
    hourly grid over the first three days, per station."""
    from tsatool_app_spark.operators.timeseries import gapfill_locf

    obs = _obs(spark, sf_dir).where(F.col("tfrom") < F.lit("2024-01-04"))
    return gapfill_locf(obs, 3600)


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect of ANSI SQL; tables pre-registered as views)
# ---------------------------------------------------------------------------


def _lang_id_sql(source: str = "documents") -> str:
    """Generated from the SAME marker table as the Spark implementation, so
    the two can't drift.  ``source``: the relation supplying (doc_id,
    text) — r9: lets the pretraining_mix oracle score a staged corpus."""
    def cnt(expr: str, m: str) -> str:
        return (
            f"CAST((length({expr}) - length(replace({expr}, '{m}', ''))) / {len(m)} AS BIGINT)"
        )

    padded = "' ' || lower(text) || ' '"
    scores = {
        lang: " + ".join(cnt(padded, m) for m in markers)
        for lang, markers in _LANG_MARKERS.items()
    }
    score_cols = ", ".join(f"({expr}) AS score_{lang}" for lang, expr in scores.items())
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in _LANG_MARKERS) + ")"
    marker_chain = " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in _LANG_MARKERS
    )
    return f"""
WITH scored AS (
  SELECT doc_id, text, {score_cols},
         CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS nonascii_ratio
  FROM {source}
), ranked AS (
  SELECT *, {best} AS best FROM scored
)
SELECT doc_id,
       CASE WHEN nonascii_ratio > 0.3 THEN 'zh'
            WHEN best = 0 THEN 'und'
            ELSE CASE {marker_chain} END
       END AS lang_pred
FROM ranked"""


def _quality_sql(source: str = "documents") -> str:
    """The quality_score oracle, parameterized on the corpus relation
    (r9: shared between the standalone query and pretraining_mix)."""
    return f"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CAST((length(text) - length(replace(text, ' ', ''))) / 1 AS BIGINT) AS n_spaces,
         CAST((length(text) - length(replace(text, '.', ''))) / 1 AS BIGINT) AS n_periods
  FROM {source}
)
SELECT doc_id,
       CAST(
         (CASE WHEN n_chars >= 50 AND n_chars <= 20000 THEN 1 ELSE 0 END) * 0.4
         + (CASE WHEN n_periods > 0 THEN 1 ELSE 0 END) * 0.2
         + (CASE WHEN n_chars / (n_spaces + 1) >= 2.0
                  AND n_chars / (n_spaces + 1) <= 12.0 THEN 1 ELSE 0 END) * 0.2
         + (CASE WHEN n_spaces / greatest(n_chars, 1) >= 0.05
                  AND n_spaces / greatest(n_chars, 1) <= 0.35 THEN 1 ELSE 0 END) * 0.2
       AS DOUBLE) AS quality
FROM s"""


def _neardup_pairs_ctes(
    *, grams: str, t_num: int, t_den: int, c: int = 20,
    source: str = "documents",
) -> str:
    """CTE body (no leading WITH) defining ``pairs(id_a, id_b, jaccard,
    inter_size, union_size)``: ALL document pairs with shingle-set Jaccard
    >= t_num/t_den — exactly the brute-force all-pairs answer, computed
    sub-quadratically so the oracle survives sf1+ inside the bench budget
    (r5 VERDICT next-round #4; the old all-pairs form was abandoned at the
    45 s budget for every sf >= 0.1).

    Construction (each step is a LOSSLESS necessary condition, so the
    result is provably identical to the brute-force join — pinned by
    tests/test_driver_contract.py::test_candidate_restricted_oracles_match_brute_force):

    1. Identical texts are grouped first (md5); within-group pairs have
       J = 1 by definition and skip straight to the output, so the
       candidate search runs over DISTINCT texts (10x fewer at the
       replicated sf1 tier).
    2. Length filter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so qualifying
       pairs satisfy t_den*min >= t_num*max (integer-exact).
    3. Multi-prefix filter (Chaudhuri/Xiao et al.): under any global
       total order (here: ascending document frequency, then gram), a
       pair with |A∩B| = a shares its a smallest common elements within
       the first |x| - a + i positions of each set (i = 1..a).  With
       J >= t, a >= ceil(t*max(|A|,|B|)), so prefixes of length
       |x| - ceil(t*|x|) + c must share >= min(c, ceil(t*max)) elements.
       Integer ceil ((t_num*n + t_den - 1) // t_den) avoids float-edge
       misses; the HAVING threshold uses LEAST(c, ...) so tiny sets
       (where |A∩B| < c) are not dropped.
    4. Exact verification of the surviving candidates with the SAME
       list_intersect/double-division predicate as the brute-force form,
       so accepted values are bit-identical.

    grams='char': 5-char shingles txt[i:i+4] (minhash/leakage family);
    grams='word': word 5-grams (setsim family).  ``source``: the relation
    (table or earlier CTE) supplying (doc_id, text) — r9: lets the
    pretraining_mix oracle run the same construction over a staged
    corpus instead of the raw table.
    """
    if grams == "char":
        toks = ""
        shingles = (
            "list_distinct(list_transform(range(1, greatest(length(txt) - 4, 1) + 1),\n"
            "                             i -> txt[i:i+4]))"
        )
        src = "grp"
    else:
        toks = (
            "toks AS (SELECT h, list_filter(string_split(txt, ' '), x -> x <> '') AS t\n"
            "         FROM grp),\n"
        )
        shingles = (
            "list_distinct(list_transform(range(1, greatest(len(t) - 4, 1) + 1),\n"
            "              i -> array_to_string(list_slice(t, i, i + 4), ' ')))"
        )
        src = "toks"
    thr = f"{t_num / t_den!r}"
    return f"""grp AS MATERIALIZED (
  SELECT md5(text) AS h, any_value(text) AS txt, list(doc_id) AS ids
  FROM {source} GROUP BY md5(text)
),
{toks}sh AS MATERIALIZED (SELECT h, {shingles} AS s FROM {src}),
ex AS MATERIALIZED (SELECT h, unnest(s) AS g, len(s) AS n FROM sh),
freq AS MATERIALIZED (SELECT g, count(*) AS df FROM ex GROUP BY g),
pref AS MATERIALIZED (
  SELECT h, g, n FROM (
    SELECT e.h, e.g, e.n,
           row_number() OVER (PARTITION BY e.h ORDER BY f.df, e.g) AS rk
    FROM ex e JOIN freq f USING (g)
  ) WHERE rk <= n - ({t_num} * n + {t_den - 1}) // {t_den} + {c}
),
cand AS MATERIALIZED (
  SELECT a.h AS ha, b.h AS hb
  FROM pref a JOIN pref b ON a.g = b.g AND a.h < b.h
     AND a.n * {t_num} <= b.n * {t_den} AND b.n * {t_num} <= a.n * {t_den}
  GROUP BY 1, 2
  HAVING count(*) >= LEAST({c},
    ({t_num} * GREATEST(any_value(a.n), any_value(b.n)) + {t_den - 1}) // {t_den})
),
xtext AS MATERIALIZED (
  SELECT c.ha, c.hb,
         len(list_intersect(a.s, b.s)) AS i, len(a.s) AS na, len(b.s) AS nb
  FROM cand c JOIN sh a ON a.h = c.ha JOIN sh b ON b.h = c.hb
  WHERE len(list_intersect(a.s, b.s))
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= {thr}
),
pairs AS (
  SELECT least(ua.ia, ub.ib) AS id_a, greatest(ua.ia, ub.ib) AS id_b,
         x.i / (x.na + x.nb - x.i) AS jaccard,
         CAST(x.i AS BIGINT) AS inter_size,
         CAST(x.na + x.nb - x.i AS BIGINT) AS union_size
  FROM xtext x
  JOIN grp ga ON ga.h = x.ha JOIN grp gb ON gb.h = x.hb,
  unnest(ga.ids) AS ua(ia), unnest(gb.ids) AS ub(ib)
  UNION ALL
  SELECT least(ua.ia, ub.ib) AS id_a, greatest(ua.ia, ub.ib) AS id_b,
         1.0 AS jaccard,
         CAST(len(s) AS BIGINT) AS inter_size,
         CAST(len(s) AS BIGINT) AS union_size
  FROM grp g JOIN sh USING (h),
  unnest(g.ids) AS ua(ia), unnest(g.ids) AS ub(ib)
  WHERE ua.ia < ub.ib
)"""


#: Shared CTE bodies for the near-dup oracle family (char 5-gram / J>=0.85
#: and word 5-gram / J>=3/5) — one construction, five oracles.
_NEARDUP_CHAR_85 = _neardup_pairs_ctes(grams="char", t_num=17, t_den=20)
_NEARDUP_WORD_35 = _neardup_pairs_ctes(grams="word", t_num=3, t_den=5)

#: Connected components over the verified pair graph — min-reachable-label
#: closure. sym/edges MATERIALIZED so the recursive walk does not recompute
#: the candidate pipeline per iteration (the pre-r6 budget killer).
_NEARDUP_COMPONENTS_CTES = f"""{_NEARDUP_CHAR_85},
sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, u AS label FROM sym
  UNION
  SELECT s.v AS node, r.label FROM reach r JOIN sym s ON s.u = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)"""


ORACLES: dict[str, str | None] = {
    "pack_ranges": f"""
WITH {_pack_sql_cte('pr', _BLOCK_A)}
SELECT vfrom, vuntil, istrue FROM pr""",
    "pack_ranges_in": f"""
WITH {_pack_sql_cte('pr', (9, 'purchase', 'in', tuple(float(v) for v in range(0, 500, 10))), seval_expr='CAST(FLOOR(value) AS DOUBLE)')}
SELECT vfrom, vuntil, istrue FROM pr""",
    "condition_and": _condition_sql(
        {"a1": _BLOCK_A, "a2": _BLOCK_B}, "a1 AND a2"
    ),
    "condition_or_not": _condition_sql(
        {"b1": _BLOCK_A, "b2": _BLOCK_B, "b3": _BLOCK_C}, "(b1 OR NOT b2) AND b3"
    ),
    "condition_summary": f"""
WITH cond AS ({_condition_sql({"a1": _BLOCK_A, "a2": _BLOCK_B}, "a1 AND a2")}),
agg AS (
  SELECT min(vfrom) AS data_from, max(vuntil) AS data_until,
         CAST(COALESCE(SUM(CASE WHEN master THEN vdiff_s END), 0) AS BIGINT) AS v,
         CAST(COALESCE(SUM(CASE WHEN NOT master THEN vdiff_s END), 0) AS BIGINT) AS nv
  FROM cond
)
SELECT data_from, data_until,
       CAST(date_diff('second', data_from, data_until) AS BIGINT) AS tottime_s,
       v AS tottime_valid_s, nv AS tottime_notvalid_s,
       CAST(date_diff('second', data_from, data_until) AS BIGINT) - v - nv AS tottime_nodata_s,
       v / CAST(date_diff('second', data_from, data_until) AS BIGINT) * 100.0 AS percentage_valid,
       nv / CAST(date_diff('second', data_from, data_until) AS BIGINT) * 100.0 AS percentage_notvalid,
       (CAST(date_diff('second', data_from, data_until) AS BIGINT) - v - nv)
         / CAST(date_diff('second', data_from, data_until) AS BIGINT) * 100.0 AS percentage_nodata
FROM agg""",
    "obs_summary_monthly": """
SELECT CAST(month(ts) AS INTEGER) AS obs_month, user_id AS statid,
       event_type AS seid, count(*) AS obs_count,
       min(ts) AS first_obs, max(ts) AS last_obs
FROM events GROUP BY 1, 2, 3""",
    "distinct_stations": "SELECT DISTINCT user_id AS statid FROM events ORDER BY statid",
    "dedup_pk": """
SELECT statid, count(*) AS n_obs FROM (
  SELECT DISTINCT user_id AS statid, ts AS tfrom FROM events
) GROUP BY statid""",
    "ts_parse_finnish": """
SELECT event_id,
       strptime(regexp_extract(
           strftime(ts, '%d.%m.%Y %H:%M:%S') || ',000000000', '^(.*),', 1),
           '%d.%m.%Y %H:%M:%S') AS parsed_ts
FROM events""",
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus""",
    "revenue_by_nation": """
SELECT n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name""",
    "top_suppliers_per_nation": """
SELECT s_nationkey, s_suppkey, s_acctbal, rk FROM (
  SELECT s_nationkey, s_suppkey, s_acctbal,
         CAST(row_number() OVER (PARTITION BY s_nationkey
                                 ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS rk
  FROM supplier
) WHERE rk <= 3""",
    "shipping_priority": """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10""",
    "above_avg_orders": """
WITH w AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
FROM w WHERE o_totalprice > 2 * cust_avg""",
    "dedup_exact_docs": """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)""",
    "text_stats": """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS len_chars,
       CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_tokens_ws,
       CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS n_periods,
       CAST(length(text) - length(replace(text, ',', '')) AS BIGINT) AS n_commas,
       CAST(length(text) - length(replace(text, ' ', '')) AS INTEGER) AS n_space_chars
FROM documents""",
    "lang_id": _lang_id_sql(),
    "embedding_dotq": """
WITH q AS (
  SELECT embedding AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT e.vec_id,
       CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                 CAST(FLOOR(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dotq
FROM embeddings e, q""",
    "quality_score": _quality_sql(),
    "doc_fingerprint": """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint_md5
FROM documents""",
    "ngram_jaccard": """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                                      i -> text[i:i+4])) AS s
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a
  JOIN documents b ON b.doc_id = a.doc_id + 1
)
SELECT p.id_a, p.id_b,
       len(list_intersect(sa.s, sb.s))
         / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
FROM pairs p
JOIN sh sa ON sa.doc_id = p.id_a
JOIN sh sb ON sb.doc_id = p.id_b""",
    "interval_overlap_join": f"""
WITH {_pack_sql_cte('pa', _BLOCK_A)}, {_pack_sql_cte('pb', _BLOCK_B)}
SELECT pa.vfrom AS a_vfrom, pa.vuntil AS a_vuntil, pa.istrue AS a_istrue,
       pb.vfrom AS b_vfrom, pb.vuntil AS b_vuntil, pb.istrue AS b_istrue
FROM pa JOIN pb
  ON pa.vfrom < pb.vuntil AND pb.vfrom < pa.vuntil""",
    "sessionize": """
WITH stepped AS (
  SELECT user_id AS statid, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
ids AS (
  SELECT statid, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY statid ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM stepped
)
SELECT statid, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM ids GROUP BY statid, session_id""",
    "deterministic_sample": """
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 < 20""",
    "sql_surface": """
SELECT user_id AS statid, event_type AS seid, count(*) AS n, min(ts) AS first_obs
FROM events WHERE value >= 100.0 GROUP BY 1, 2""",
    "time_bucket_rollup": """
SELECT user_id AS statid, event_type AS seid,
       make_timestamp(((epoch_ms(ts) // 1000) - (((epoch_ms(ts) // 1000) % 3600) + 3600) % 3600) * 1000000) AS bucket,
       count(*) AS n_obs,
       min(value) AS min_val,
       max(value) AS max_val,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_val
FROM events
GROUP BY 1, 2, 3""",
    "asof_join": """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts,
       r.purchase_value, r.ts AS asof_time
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "salted_sum": """
SELECT user_id AS statid,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id""",
    "minhash_pairs": f"""
WITH {_NEARDUP_CHAR_85}
SELECT id_a, id_b, jaccard FROM pairs""",
    "dedup_components": f"""
WITH RECURSIVE {_NEARDUP_COMPONENTS_CTES}
SELECT node AS doc_id, MIN(label) AS component
FROM reach GROUP BY node ORDER BY doc_id""",
    "pack_sequences": """
WITH RECURSIVE t AS MATERIALIZED (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
),
p AS (
  SELECT doc_id, shard, n_tokens, rn,
         n_tokens AS fill, CAST(0 AS BIGINT) AS bin_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.shard, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
              ELSE p.fill + t.n_tokens END,
         CASE WHEN p.fill + t.n_tokens > 256 THEN p.bin_id + 1
              ELSE p.bin_id END
  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, bin_id
FROM p ORDER BY doc_id""",
    "ann_topk_exact": """
WITH q AS (
  SELECT embedding AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT e.vec_id,
       CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                 CAST(FLOOR(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dotq
FROM embeddings e, q
ORDER BY dotq DESC, e.vec_id
LIMIT 10""",
    "multimodal_meta": """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents""",
    "chunk_documents": """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST((g - 1) // 48 AS INTEGER) AS chunk_id,
       array_to_string(list_slice(toks, g, least(g + 63, len(toks))), ' ') AS chunk_text,
       CAST(greatest(least(g + 63, len(toks)) - g + 1, 0) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), 48)) AS g
      FROM base)""",
    "repetition_signals": """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
words AS (SELECT doc_id, unnest(t) AS w FROM base),
wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
topw AS (SELECT doc_id, max(c) AS top_word_count FROM wc GROUP BY doc_id),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM base)
),
bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
topb AS (SELECT doc_id, max(c) AS top_bigram_count FROM bgc GROUP BY doc_id),
tri AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM base)
),
tric AS (
  SELECT doc_id, count(*) AS n_tri, count(DISTINCT g) AS n_tri_d
  FROM tri GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_words,
       CAST(COALESCE(topw.top_word_count, 0) AS BIGINT) AS top_word_count,
       CAST(greatest(len(b.t) - 1, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(topb.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       CAST(greatest(len(b.t) - 2, 0) AS BIGINT) AS n_trigrams,
       CAST(COALESCE(tric.n_tri - tric.n_tri_d, 0) AS BIGINT) AS dup_trigram_excess
FROM base b
LEFT JOIN topw ON b.doc_id = topw.doc_id
LEFT JOIN topb ON b.doc_id = topb.doc_id
LEFT JOIN tric ON b.doc_id = tric.doc_id""",
    "redact_pii": r"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or call 123456789 now'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text, '\b[0-9]{9,}\b')) AS BIGINT) AS n_redacted,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g'),
         '\b[0-9]{9,}\b', '<NUM>', 'g') AS clean_text
FROM planted""",
    "stratified_sample": """
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
              AS INTEGER) AS rk
  FROM documents
) WHERE rk <= 20""",
    "top_terms": """
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term)
SELECT doc_id, term, tf, rk FROM (
  SELECT doc_id, term, tf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term)
              AS INTEGER) AS rk
  FROM tf
) WHERE rk <= 3""",
    "decontaminate": """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
train_grams AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i, i + 7), ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM toks)
),
bench_grams AS (
  SELECT DISTINCT g FROM train_grams WHERE doc_id % 97 = 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM train_grams JOIN bench_grams USING (g)
GROUP BY doc_id""",
    "vocab_top_terms": """
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
agg AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM words GROUP BY term
)
SELECT term, tf, df FROM agg ORDER BY tf DESC, term LIMIT 100""",
    "embedding_near_dups": """
WITH sub AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
),
seed AS (
  SELECT vec_id, embedding FROM sub ORDER BY vec_id LIMIT 5
),
planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, x -> x * 1.001) AS embedding
  FROM seed
),
allv AS (
  SELECT vec_id, embedding FROM sub
  UNION ALL SELECT vec_id, embedding FROM planted
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.8""",
    # ANN oracles: exact brute-force top-10 over the planted-clone corpus
    # (construction makes approximate == exact with certainty; see
    # _planted_ann_corpus).  Only ids are emitted: clone embeddings differ
    # between engines in the last float32 ulp (Spark stores float32(c*x),
    # DuckDB computes double(c*x)), but the top-10 id SET is invariant to
    # that — the margin between clones (~1.0) and the nearest natural
    # vector (<0.41 measured) is ~12 orders above the perturbation.
    "lsh_ann": """
WITH q AS (
  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
),
clones AS (
  SELECT 2000000 + j.j AS vec_id,
         list_transform(q.qe, x -> x * (1.0 + (j.j + 1) / 1000.0)) AS embedding
  FROM q, (SELECT unnest(generate_series(0, 9)) AS j) j
),
corpus AS (
  SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings e, q
  WHERE list_transform(e.embedding, x -> CAST(x AS DOUBLE)) <> q.qe
  UNION ALL
  SELECT vec_id, embedding FROM clones
),
topk AS (
  SELECT c.vec_id
  FROM corpus c, q
  ORDER BY list_cosine_similarity(c.embedding, q.qe) DESC, c.vec_id
  LIMIT 10
)
SELECT vec_id FROM topk ORDER BY vec_id""",
    "ivf_ann": """
WITH q AS (
  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
),
clones AS (
  SELECT 3000000 + j.j AS vec_id,
         list_transform(q.qe, x -> x * (1.0 + (j.j + 1) / 1000.0)) AS embedding
  FROM q, (SELECT unnest(generate_series(0, 9)) AS j) j
),
corpus AS (
  SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings e, q
  WHERE list_transform(e.embedding, x -> CAST(x AS DOUBLE)) <> q.qe
  UNION ALL
  SELECT vec_id, embedding FROM clones
),
topk AS (
  SELECT c.vec_id
  FROM corpus c, q
  ORDER BY list_cosine_similarity(c.embedding, q.qe) DESC, c.vec_id
  LIMIT 10
)
SELECT vec_id FROM topk ORDER BY vec_id""",
    "json_props": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type""",
    "line_filter": """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
seg AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t), 1) + 1, 8),
                        i -> list_slice(t, i, i + 7)) AS lines
  FROM base
),
kept AS (
  SELECT doc_id, lines,
         list_filter(lines,
                     l -> len(l) >= 5 AND len(list_intersect(l, ['the', 'a'])) > 0)
           AS keep
  FROM seg
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keep) AS BIGINT) AS n_kept,
       COALESCE(array_to_string(list_transform(keep, l -> array_to_string(l, ' ')),
                                chr(10)), '') AS kept_text
FROM kept""",
    "keyword_search": """
WITH hits AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS score,
         CAST(count(DISTINCT term) AS BIGINT) AS n_terms
  FROM hits WHERE term IN ('spark', 'window', 'hash')
  GROUP BY doc_id
)
SELECT doc_id, score, n_terms FROM scored
ORDER BY score DESC, n_terms DESC, doc_id
LIMIT 20""",
    "rolling_features": """
SELECT user_id, ts, event_id, value,
       CAST(SUM(CAST(value AS DECIMAL(20,6)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_n,
       MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_max
FROM events""",
    "percentile_disc": """
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
FROM r GROUP BY event_type ORDER BY event_type""",
    "sales_rollup": """
SELECT COALESCE(l_returnflag, '<ALL>') AS l_returnflag,
       COALESCE(l_linestatus, '<ALL>') AS l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus""",
}


@dataclass(frozen=True)
class DriverQuery:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


_CHANGES_CTE = """
changes AS (
  SELECT o_custkey AS c_custkey,
         'cust_' || CAST(o_custkey AS VARCHAR) AS c_name,
         CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
         o_totalprice AS c_acctbal,
         o_orderpriority AS c_mktsegment,
         o_orderkey AS seq,
         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders
)"""

ORACLES["merge_upsert"] = f"""
WITH {_CHANGES_CTE},
latest AS (
  SELECT * FROM changes
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) = 1
)
SELECT COALESCE(l.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN l.c_custkey IS NOT NULL THEN l.c_name ELSE b.c_name END AS c_name,
       CASE WHEN l.c_custkey IS NOT NULL THEN l.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
       CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
       CASE WHEN l.c_custkey IS NOT NULL THEN l.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
WHERE NOT (l.c_custkey IS NOT NULL AND l.op = 'D')
ORDER BY c_custkey"""

ORACLES["scd2_history"] = """
SELECT user_id,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current,
       event_id, value
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

ORACLES["pivot_event_values"] = """
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) FILTER (event_type = 'click') AS DOUBLE) AS sum_click,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) FILTER (event_type = 'error') AS DOUBLE) AS sum_error,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) FILTER (event_type = 'purchase') AS DOUBLE) AS sum_purchase,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) FILTER (event_type = 'signup') AS DOUBLE) AS sum_signup,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) FILTER (event_type = 'view') AS DOUBLE) AS sum_view
FROM events GROUP BY user_id ORDER BY user_id"""

ORACLES["cube_sales"] = """
SELECT COALESCE(o_orderpriority, '<ALL>') AS o_orderpriority,
       COALESCE(o_year, '<ALL>') AS o_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
FROM (SELECT o_orderpriority, CAST(year(o_orderdate) AS VARCHAR) AS o_year,
             o_totalprice FROM orders)
GROUP BY GROUPING SETS ((o_orderpriority, o_year), (o_orderpriority), (o_year), ())
ORDER BY o_orderpriority, o_year"""

ORACLES["order_priority_check"] = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority"""

ORACLES["customer_distribution"] = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""

ORACLES["small_qty_revenue"] = """
WITH pp AS (
  SELECT l_partkey AS a_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
JOIN pp ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty"""

ORACLES["table_profile"] = """
SELECT 'o_custkey' AS "column", count(*) AS n_rows,
       count(*) - count(o_custkey) AS n_nulls,
       count(DISTINCT o_custkey) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_s,
       CAST(max(o_custkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority),
       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
       count(DISTINCT o_totalprice),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
ORDER BY "column" """

ORACLES["histogram_prices"] = """
SELECT bucket,
       CAST(0.0 + bucket * 25000.0 AS DOUBLE) AS lo_edge,
       count(*) AS n
FROM (
  SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT), 0), 19) AS bucket
  FROM orders WHERE o_totalprice IS NOT NULL
) GROUP BY bucket ORDER BY bucket"""

_MIX_CASE = "CASE source " + " ".join(
    f"WHEN '{g}' THEN {r}" for g, r in sorted(_MIX_RATES.items())
) + f" ELSE {_MIX_DEFAULT} END"

ORACLES["weighted_sample"] = f"""
SELECT doc_id, source FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100
      < {_MIX_CASE}
ORDER BY doc_id"""

ORACLES["rolling_time_window"] = """
SELECT user_id AS statid, ts AS tfrom, value AS seval,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE) AS win_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS win_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)"""

ORACLES["clean_corpus"] = rf"""
WITH qs AS ({ORACLES["quality_score"]}),
ls AS ({_lang_id_sql()}),
surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
st AS (
  SELECT doc_id,
         CAST((length(text) - length(replace(text, ' ', ''))) + 1 AS BIGINT) AS n_tokens_ws
  FROM documents
),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                          '<EMAIL>', 'g'),
           '\b[0-9]{{9,}}\b', '<NUM>', 'g') AS clean_text
  FROM documents
)
SELECT d.doc_id, ls.lang_pred, qs.quality, st.n_tokens_ws, red.clean_text
FROM documents d
JOIN surv USING (doc_id)
JOIN ls USING (doc_id)
JOIN qs USING (doc_id)
JOIN st USING (doc_id)
JOIN red USING (doc_id)
WHERE ls.lang_pred = 'en' AND qs.quality >= 0.6
ORDER BY d.doc_id"""

ORACLES["funnel_windowed"] = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')
  GROUP BY user_id
),
c AS (
  SELECT t0 IS NOT NULL AS c0,
         t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
           AND (epoch_us(t1) // 1000000) - (epoch_us(t0) // 1000000) <= 7200 AS c1_,
         t2 IS NOT NULL AND t2 > t1
           AND (epoch_us(t2) // 1000000) - (epoch_us(t1) // 1000000) <= 7200 AS c2_
  FROM firsts
)
SELECT 1 AS step, 'signup' AS event_type,
       CAST(count(CASE WHEN c0 THEN 1 END) AS BIGINT) AS n_entities FROM c
UNION ALL
SELECT 2, 'view', CAST(count(CASE WHEN c0 AND c1_ THEN 1 END) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'purchase',
       CAST(count(CASE WHEN c0 AND c1_ AND c2_ THEN 1 END) AS BIGINT) FROM c
ORDER BY step"""

ORACLES["active_counts"] = """
WITH days AS (
  SELECT DISTINCT user_id AS e, CAST(ts AS DATE) AS day FROM events
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM days GROUP BY day),
wk AS (SELECT e, day, weekofyear(day) AS wk,
              CAST(isoyear(day) AS INT) AS yr FROM days),
wau AS (
  SELECT wk, yr, CAST(count(*) AS BIGINT) AS wau
  FROM (SELECT DISTINCT e, wk, yr FROM wk) GROUP BY wk, yr
)
SELECT CAST(day AS VARCHAR) AS day, dau, wau
FROM dau JOIN (SELECT DISTINCT day, wk, yr FROM wk) USING (day)
JOIN wau USING (wk, yr)
ORDER BY day"""

ORACLES["phrase_search"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id FROM toks
WHERE len([i FOR i IN range(1, len(t))
           IF t[i] = 'fast' AND t[i + 1] = 'table']) > 0
ORDER BY doc_id"""

ORACLES["pit_lookup"] = f"""
WITH hist AS ({ORACLES["scd2_history"]}),
probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts, h.value
FROM probes p LEFT JOIN hist h
  ON p.user_id = h.user_id
 AND h.valid_from <= p.ts
 AND (h.valid_to IS NULL OR h.valid_to > p.ts)
ORDER BY p.event_id"""

ORACLES["bigram_lm"] = """
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p FROM toks
),
counts AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS n
  FROM grams GROUP BY 1, 2
),
tot AS (SELECT w1, SUM(n) AS n_w1 FROM counts GROUP BY w1)
SELECT counts.w1, w2, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / n_w1 AS p_cond
FROM counts JOIN tot ON counts.w1 = tot.w1
ORDER BY n DESC, counts.w1, w2 LIMIT 50"""

ORACLES["transitions"] = """
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
) WHERE from_type IS NOT NULL
GROUP BY from_type, to_type ORDER BY from_type, to_type"""

ORACLES["first_touch"] = """
WITH per_entity AS (
  SELECT user_id,
         min({'t': ts, 'eid': event_id, 'ty': event_type}) AS fa,
         min(CASE WHEN event_type = 'purchase'
                  THEN {'t': ts, 'eid': event_id} END) AS fc
  FROM events GROUP BY user_id
)
SELECT fa.ty AS first_touch_type, CAST(count(*) AS BIGINT) AS n_converted
FROM per_entity WHERE fc IS NOT NULL
GROUP BY fa.ty ORDER BY first_touch_type"""

ORACLES["chi2_cells"] = """
WITH cells AS (
  SELECT lang AS r, source AS c, count(*) AS observed
  FROM documents GROUP BY 1, 2
),
rt AS (SELECT r, SUM(observed) AS row_total FROM cells GROUP BY r),
ct AS (SELECT c, SUM(observed) AS col_total FROM cells GROUP BY c),
tot AS (SELECT SUM(observed) AS n FROM cells)
SELECT r AS lang, c AS source, CAST(observed AS BIGINT) AS observed,
       CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
         / CAST(n AS DOUBLE) AS expected,
       (CAST(observed AS DOUBLE)
          - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
            / CAST(n AS DOUBLE))
       * (CAST(observed AS DOUBLE)
          - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
            / CAST(n AS DOUBLE))
       / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
          / CAST(n AS DOUBLE)) AS contrib
FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
ORDER BY lang, source"""

ORACLES["ab_ztest"] = """
WITH counts AS (
  SELECT CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n1,
         CAST(count(CASE WHEN user_id % 2 = 0
                          AND event_type = 'purchase' THEN 1 END) AS BIGINT) AS x1,
         CAST(count(CASE WHEN NOT (user_id % 2 = 0) THEN 1 END) AS BIGINT) AS n2,
         CAST(count(CASE WHEN NOT (user_id % 2 = 0)
                          AND event_type = 'purchase' THEN 1 END) AS BIGINT) AS x2
  FROM events
)
SELECT n1, x1, n2, x2,
       CAST(x1 AS DOUBLE) / n1 AS rate1,
       CAST(x2 AS DOUBLE) / n2 AS rate2,
       (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                * (1.0 / n1 + 1.0 / n2)) AS z
FROM counts"""

ORACLES["iqr_outliers"] = """
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
q AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN value END) AS p25,
         max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN value END) AS p75
  FROM r GROUP BY event_type
)
SELECT event_id, e.event_type, value, p25, p75,
       value < p25 - 1.5 * (p75 - p25) OR value > p75 + 1.5 * (p75 - p25)
         AS is_outlier
FROM events e JOIN q ON e.event_type = q.event_type
ORDER BY event_id"""

ORACLES["zscore"] = """
WITH c AS (
  SELECT event_id, event_type, value,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n,
         SUM(cents) AS sm, SUM(cents * cents) AS ss
  FROM c GROUP BY event_type
),
st AS (
  SELECT event_type,
         CAST(sm AS DOUBLE) / n AS mean_,
         CASE WHEN CAST(ss AS DOUBLE) / n
                   - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n) > 0
              THEN sqrt(CAST(ss AS DOUBLE) / n
                        - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))
         END AS sd
  FROM s
)
SELECT event_id, c.event_type, value,
       (CAST(cents AS DOUBLE) - mean_) / sd AS z
FROM c JOIN st ON c.event_type = st.event_type
ORDER BY event_id"""

ORACLES["gapfill_interp"] = """
WITH src AS (
  SELECT user_id AS statid, epoch_us(ts) // 1000000 AS t, value AS v
  FROM events WHERE ts < TIMESTAMP '2024-01-04'
),
latest AS (
  SELECT statid, t - (((t % 3600) + 3600) % 3600) AS bucket, max({'t': t, 'v': v}) AS m
  FROM src GROUP BY 1, 2
),
latest2 AS (
  SELECT statid, bucket, m.v AS obs FROM latest
),
grid AS (
  SELECT statid, unnest(generate_series(lo, hi, 3600)) AS bucket
  FROM (SELECT statid, min(bucket) AS lo, max(bucket) AS hi
        FROM latest2 GROUP BY statid)
),
joined AS (
  SELECT g.statid, g.bucket, l.obs
  FROM grid g LEFT JOIN latest2 l ON g.statid = l.statid AND g.bucket = l.bucket
),
annotated AS (
  SELECT statid, bucket, obs,
         last_value(obs IGNORE NULLS) OVER back AS pv,
         last_value(CASE WHEN obs IS NOT NULL THEN bucket END IGNORE NULLS)
           OVER back AS pb,
         first_value(obs IGNORE NULLS) OVER fwd AS nv,
         first_value(CASE WHEN obs IS NOT NULL THEN bucket END IGNORE NULLS)
           OVER fwd AS nb
  FROM joined
  WINDOW back AS (PARTITION BY statid ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY statid ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT statid, CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN obs IS NOT NULL THEN obs
            ELSE pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE)
                                   / CAST(nb - pb AS DOUBLE)) END AS value,
       obs IS NULL AS is_gap
FROM annotated ORDER BY statid, bucket"""

ORACLES["time_weighted_avg"] = """
WITH w AS (
  SELECT user_id AS statid,
         CAST(value AS DECIMAL(20,6)) AS v,
         (epoch_us(lead(ts) OVER win) // 1000000)
           - (epoch_us(ts) // 1000000) AS dt
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_type, value)
)
SELECT statid,
       CAST(SUM(v * CAST(dt AS DECIMAL(10,0))) AS DOUBLE)
         / CAST(SUM(dt) AS DOUBLE) AS twa,
       CAST(SUM(dt) AS BIGINT) AS total_seconds
FROM w WHERE dt IS NOT NULL
GROUP BY statid ORDER BY statid"""

ORACLES["counter_deltas"] = """
SELECT user_id AS statid, ts AS tfrom, event_id, value AS seval,
       CASE WHEN lag(value) OVER w IS NULL THEN NULL
            WHEN value >= lag(value) OVER w THEN value - lag(value) OVER w
            ELSE value END AS delta,
       lag(value) OVER w IS NOT NULL AND value < lag(value) OVER w AS is_reset
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

ORACLES["gapfill"] = """
WITH src AS (
  SELECT user_id AS statid, epoch_us(ts) // 1000000 AS t, value AS v
  FROM events WHERE ts < TIMESTAMP '2024-01-04'
),
latest AS (
  SELECT statid, t - (((t % 3600) + 3600) % 3600) AS bucket, max({'t': t, 'v': v}) AS m
  FROM src GROUP BY 1, 2
),
latest2 AS (
  SELECT statid, bucket, m.v AS obs FROM latest
),
grid AS (
  SELECT statid, unnest(generate_series(lo, hi, 3600)) AS bucket
  FROM (SELECT statid, min(bucket) AS lo, max(bucket) AS hi
        FROM latest2 GROUP BY statid)
),
joined AS (
  SELECT g.statid, g.bucket, l.obs
  FROM grid g LEFT JOIN latest2 l ON g.statid = l.statid AND g.bucket = l.bucket
)
SELECT statid, CAST(bucket AS BIGINT) AS bucket,
       last_value(obs IGNORE NULLS) OVER (
         PARTITION BY statid ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       obs IS NULL AS is_gap
FROM joined ORDER BY statid, bucket"""

ORACLES["quality_gate"] = """
WITH c AS (
  SELECT
    CAST(SUM(CASE WHEN NOT (value IS NULL OR value BETWEEN 0 AND 450)
             THEN 1 ELSE 0 END) AS BIGINT) AS r_range,
    CAST(SUM(CASE WHEN NOT (event_type IS NULL
                            OR regexp_matches(event_type, '^[a-z]{4,8}$'))
             THEN 1 ELSE 0 END) AS BIGINT) AS r_match,
    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_null
  FROM events
)
SELECT * FROM (
  SELECT 'value_in_range' AS violation, r_range AS n FROM c
  UNION ALL SELECT 'event_type_matches', r_match FROM c
  UNION ALL SELECT 'props_not_null', r_null FROM c
) WHERE n > 0 ORDER BY violation"""

ORACLES["value_buckets"] = """
WITH counts AS (
  SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY n_chars
),
bnd AS (
  SELECT v,
         COALESCE(SUM(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_,
         SUM(c) OVER () AS total
  FROM counts
),
assigned AS (
  SELECT d.doc_id, d.n_chars,
         CAST(least(10, (before_ * 10) // total + 1) AS BIGINT) AS bucket
  FROM documents d JOIN bnd ON d.n_chars = bnd.v
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM assigned GROUP BY bucket ORDER BY bucket"""

ORACLES["forecast_revenue"] = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""

ORACLES["promo_share"] = """
SELECT 100.0
       * CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                  END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
       AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'"""

ORACLES["salted_join"] = """
SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_val
FROM events JOIN customer ON user_id = c_custkey
GROUP BY user_id ORDER BY k"""

ORACLES["funnel"] = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')
  GROUP BY user_id
)
SELECT 1 AS step, 'signup' AS event_type,
       CAST(count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS BIGINT) AS n_entities
FROM firsts
UNION ALL
SELECT 2, 'view',
       CAST(count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                  THEN 1 END) AS BIGINT)
FROM firsts
UNION ALL
SELECT 3, 'purchase',
       CAST(count(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                       AND t2 IS NOT NULL AND t2 > t1 THEN 1 END) AS BIGINT)
FROM firsts
ORDER BY step"""

ORACLES["cohort_retention"] = """
WITH active AS (
  SELECT DISTINCT user_id AS e, (epoch_us(ts) // 1000000) // 86400 AS p
  FROM events
),
firsts AS (SELECT e, min(p) AS p0 FROM active GROUP BY e)
SELECT CAST(p0 * 86400 AS BIGINT) AS cohort_period,
       CAST(p - p0 AS BIGINT) AS "offset",
       CAST(count(*) AS BIGINT) AS n_active
FROM active JOIN firsts USING (e)
GROUP BY 1, 2 ORDER BY 1, 2"""

ORACLES["incremental_rollup"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_val,
       min(value) AS min_val,
       max(value) AS max_val,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_val
FROM events GROUP BY event_type ORDER BY event_type"""


def _zorder_oracle() -> str:
    from tsatool_app_spark.operators.layout import zorder_sql

    z = zorder_sql("user_id", "CAST(floor(value) AS BIGINT)", 10)
    return f"""
SELECT event_id, {z} AS zkey
FROM events
ORDER BY zkey DESC, event_id DESC LIMIT 100"""


ORACLES["zorder_key"] = _zorder_oracle()

ORACLES["ntile_quality"] = f"""
WITH qs AS ({ORACLES["quality_score"]})
SELECT bucket, count(*) AS n_docs,
       min(quality) AS min_score, max(quality) AS max_score
FROM (
  SELECT quality, ntile(10) OVER (ORDER BY quality, doc_id) AS bucket FROM qs
) GROUP BY bucket ORDER BY bucket"""


QUERIES: dict[str, DriverQuery] = {
    "pack_ranges": DriverQuery(q_pack_ranges, ORACLES["pack_ranges"]),
    "pack_ranges_in": DriverQuery(q_pack_ranges_in, ORACLES["pack_ranges_in"]),
    "condition_and": DriverQuery(q_condition_and, ORACLES["condition_and"]),
    "condition_or_not": DriverQuery(q_condition_or_not, ORACLES["condition_or_not"]),
    "condition_summary": DriverQuery(q_condition_summary, ORACLES["condition_summary"]),
    "obs_summary_monthly": DriverQuery(q_obs_summary_monthly, ORACLES["obs_summary_monthly"]),
    "distinct_stations": DriverQuery(q_distinct_stations, ORACLES["distinct_stations"]),
    "dedup_pk": DriverQuery(q_dedup_pk, ORACLES["dedup_pk"]),
    "ts_parse_finnish": DriverQuery(q_ts_parse_finnish, ORACLES["ts_parse_finnish"]),
    "pricing_summary": DriverQuery(q_pricing_summary, ORACLES["pricing_summary"]),
    "revenue_by_nation": DriverQuery(q_revenue_by_nation, ORACLES["revenue_by_nation"]),
    "top_suppliers_per_nation": DriverQuery(
        q_top_suppliers_per_nation, ORACLES["top_suppliers_per_nation"]
    ),
    "shipping_priority": DriverQuery(q_shipping_priority, ORACLES["shipping_priority"]),
    "above_avg_orders": DriverQuery(q_above_avg_orders, ORACLES["above_avg_orders"]),
    "dedup_exact_docs": DriverQuery(q_dedup_exact_docs, ORACLES["dedup_exact_docs"]),
    "text_stats": DriverQuery(q_text_stats, ORACLES["text_stats"]),
    "lang_id": DriverQuery(q_lang_id, ORACLES["lang_id"]),
    "embedding_dotq": DriverQuery(q_embedding_dotq, ORACLES["embedding_dotq"]),
    "quality_score": DriverQuery(q_quality_score, ORACLES["quality_score"]),
    "doc_fingerprint": DriverQuery(q_doc_fingerprint, ORACLES["doc_fingerprint"]),
    "ngram_jaccard": DriverQuery(q_ngram_jaccard, ORACLES["ngram_jaccard"]),
    "interval_overlap_join": DriverQuery(
        q_interval_overlap_join, ORACLES["interval_overlap_join"]
    ),
    "sessionize": DriverQuery(q_sessionize, ORACLES["sessionize"]),
    "deterministic_sample": DriverQuery(
        q_deterministic_sample, ORACLES["deterministic_sample"]
    ),
    "sql_surface": DriverQuery(q_sql_surface, ORACLES["sql_surface"]),
    "time_bucket_rollup": DriverQuery(
        q_time_bucket_rollup, ORACLES["time_bucket_rollup"]
    ),
    "asof_join": DriverQuery(q_asof_join, ORACLES["asof_join"]),
    "salted_sum": DriverQuery(q_salted_sum, ORACLES["salted_sum"]),
    "ann_topk_exact": DriverQuery(q_ann_topk_exact, ORACLES["ann_topk_exact"]),
    "multimodal_meta": DriverQuery(q_multimodal_meta, ORACLES["multimodal_meta"]),
    "chunk_documents": DriverQuery(q_chunk_documents, ORACLES["chunk_documents"]),
    "repetition_signals": DriverQuery(
        q_repetition_signals, ORACLES["repetition_signals"]
    ),
    "redact_pii": DriverQuery(q_redact_pii, ORACLES["redact_pii"]),
    "stratified_sample": DriverQuery(
        q_stratified_sample, ORACLES["stratified_sample"]
    ),
    "top_terms": DriverQuery(q_top_terms, ORACLES["top_terms"]),
    "vocab_top_terms": DriverQuery(q_vocab_top_terms, ORACLES["vocab_top_terms"]),
    "decontaminate": DriverQuery(q_decontaminate, ORACLES["decontaminate"]),
    "sheet_workload": DriverQuery(q_sheet_workload, _sheet_workload_sql()),
    "minhash_pairs": DriverQuery(q_minhash_pairs, ORACLES["minhash_pairs"]),
    "dedup_components": DriverQuery(
        q_dedup_components, ORACLES["dedup_components"]
    ),
    "pack_sequences": DriverQuery(q_pack_sequences, ORACLES["pack_sequences"]),
    "embedding_near_dups": DriverQuery(
        q_embedding_near_dups, ORACLES["embedding_near_dups"]
    ),
    "lsh_ann": DriverQuery(q_lsh_ann, ORACLES["lsh_ann"]),
    "ivf_ann": DriverQuery(q_ivf_ann, ORACLES["ivf_ann"]),
    "json_props": DriverQuery(q_json_props, ORACLES["json_props"]),
    "line_filter": DriverQuery(q_line_filter, ORACLES["line_filter"]),
    "keyword_search": DriverQuery(q_keyword_search, ORACLES["keyword_search"]),
    "rolling_features": DriverQuery(q_rolling_features, ORACLES["rolling_features"]),
    "percentile_disc": DriverQuery(q_percentile_disc, ORACLES["percentile_disc"]),
    "sales_rollup": DriverQuery(q_sales_rollup, ORACLES["sales_rollup"]),
    "merge_upsert": DriverQuery(q_merge_upsert, ORACLES["merge_upsert"]),
    "scd2_history": DriverQuery(q_scd2_history, ORACLES["scd2_history"]),
    "pivot_event_values": DriverQuery(
        q_pivot_event_values, ORACLES["pivot_event_values"]
    ),
    "cube_sales": DriverQuery(q_cube_sales, ORACLES["cube_sales"]),
    "order_priority_check": DriverQuery(
        q_order_priority_check, ORACLES["order_priority_check"]
    ),
    "customer_distribution": DriverQuery(
        q_customer_distribution, ORACLES["customer_distribution"]
    ),
    "small_qty_revenue": DriverQuery(
        q_small_qty_revenue, ORACLES["small_qty_revenue"]
    ),
    "table_profile": DriverQuery(q_table_profile, ORACLES["table_profile"]),
    "histogram_prices": DriverQuery(q_histogram_prices, ORACLES["histogram_prices"]),
    "ntile_quality": DriverQuery(q_ntile_quality, ORACLES["ntile_quality"]),
    "weighted_sample": DriverQuery(q_weighted_sample, ORACLES["weighted_sample"]),
    "rolling_time_window": DriverQuery(
        q_rolling_time_window, ORACLES["rolling_time_window"]
    ),
    "clean_corpus": DriverQuery(q_clean_corpus, ORACLES["clean_corpus"]),
    "incremental_rollup": DriverQuery(
        q_incremental_rollup, ORACLES["incremental_rollup"]
    ),
    "zorder_key": DriverQuery(q_zorder_key, ORACLES["zorder_key"]),
    "funnel": DriverQuery(q_funnel, ORACLES["funnel"]),
    "cohort_retention": DriverQuery(
        q_cohort_retention, ORACLES["cohort_retention"]
    ),
    "salted_join": DriverQuery(q_salted_join, ORACLES["salted_join"]),
    "forecast_revenue": DriverQuery(
        q_forecast_revenue, ORACLES["forecast_revenue"]
    ),
    "promo_share": DriverQuery(q_promo_share, ORACLES["promo_share"]),
    "quality_gate": DriverQuery(q_quality_gate, ORACLES["quality_gate"]),
    "value_buckets": DriverQuery(q_value_buckets, ORACLES["value_buckets"]),
    "gapfill": DriverQuery(q_gapfill, ORACLES["gapfill"]),
    "counter_deltas": DriverQuery(q_counter_deltas, ORACLES["counter_deltas"]),
    "gapfill_interp": DriverQuery(q_gapfill_interp, ORACLES["gapfill_interp"]),
    "time_weighted_avg": DriverQuery(
        q_time_weighted_avg, ORACLES["time_weighted_avg"]
    ),
    "iqr_outliers": DriverQuery(q_iqr_outliers, ORACLES["iqr_outliers"]),
    "zscore": DriverQuery(q_zscore, ORACLES["zscore"]),
    "chi2_cells": DriverQuery(q_chi2_cells, ORACLES["chi2_cells"]),
    "ab_ztest": DriverQuery(q_ab_ztest, ORACLES["ab_ztest"]),
    "transitions": DriverQuery(q_transitions, ORACLES["transitions"]),
    "first_touch": DriverQuery(q_first_touch, ORACLES["first_touch"]),
    "pit_lookup": DriverQuery(q_pit_lookup, ORACLES["pit_lookup"]),
    "bigram_lm": DriverQuery(q_bigram_lm, ORACLES["bigram_lm"]),
    "phrase_search": DriverQuery(q_phrase_search, ORACLES["phrase_search"]),
    "funnel_windowed": DriverQuery(
        q_funnel_windowed, ORACLES["funnel_windowed"]
    ),
    "active_counts": DriverQuery(q_active_counts, ORACLES["active_counts"]),
}


# ---------------------------------------------------------------------------
# r3 batch 4: classic warehouse join shapes (TPC-H Q7/Q8/Q12/Q19/Q21/Q22
# analogues on the driver's TPC-H-ish tables) + set operators, interpolated
# percentiles, and edit-distance fuzzy matching.  Each exercises a DISTINCT
# physical plan shape: nation-pair flow join, share-of-market conditional
# aggregate, CASE-count aggregate under a date-range scan, OR-of-ANDs
# disjunctive pushdown, semi+anti self-join, anti-join + exact scalar
# threshold, INTERSECT/EXCEPT, RANGE interpolation, broadcast fuzzy probe.
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"


def _revenue_col():
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )


def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year.  Join order prunes EARLY (r12, guide §3.1/§2.3): the nation dims
    are pre-filtered to the two traded nations and folded into supplier /
    customer / orders first, so ~92% of lineitem drops at its FIRST
    broadcast probe and the orders build side shrinks ~12× before it is
    hashed — the r11 shape streamed every fact row through five full-size
    hash tables (full 1.5M-row orders broadcast included) and pruned only
    at the last two joins.  The nation-pair disjunction stays on top (it
    restricts the CROSS pairs); the per-side memberships it implies are
    what the pre-filters apply, so the result set is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nations = ("NATION_1", "NATION_2")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin(*nations))
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin(*nations))
    sn = (
        s.join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .select("s_suppkey", "supp_nation")
    )
    cn = (
        c.join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .select("c_custkey", "cust_nation")
    )
    on = o.join(F.broadcast(cn), o.o_custkey == cn.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        # `on` is ~8% of orders: small enough to auto-broadcast at the
        # bench tiers, unbounded at 100 TB — no hint, the planner/AQE
        # picks from its measured size (guide §3.1)
        .join(on, li.l_orderkey == on.o_orderkey)
        .where(pair | rpair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_revenue_col()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_5 suppliers' share of PROMO-part revenue in
    the ASIA customer market, per order year.  The share is a conditional
    ratio over one aggregate (no self-join); numerator and denominator both
    decimal-exact, one final float division.

    Join order prunes EARLY (r12, guide §3.1/§2.3): lineitem probes the
    PROMO-filtered part dim FIRST (drops ~4/5 of fact rows at the first
    hash table), the ASIA filter is folded into customer→orders before the
    orderkey join (the r11 shape broadcast the FULL 1.5M-row orders and
    applied the region filter after all seven joins).  All joins are inner
    and the pushed predicates are exactly the per-side implications of the
    original post-join filters, so the result set is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    # ASIA region → nation keys → customers → orders: each step folds the
    # region filter one dim closer to the fact table, so the orderkey side
    # entering the final join is ~1/5 of orders instead of all of it.
    asia_n1 = n1.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        F.col("c_rkey") == F.col("r_regionkey"),
    ).select("c_nkey")
    cn = c.join(F.broadcast(asia_n1), F.col("c_nationkey") == F.col("c_nkey")).select(
        "c_custkey"
    )
    on = o.join(F.broadcast(cn), o.o_custkey == cn.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    sn = s.join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey")).select(
        "s_suppkey", "supp_nation"
    )
    vol = _revenue_col()
    return (
        li.join(
            F.broadcast(p.where(F.col("p_type") == "PROMO")),
            li.l_partkey == p.p_partkey,
        )
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        # `on` is ~20% of orders: auto-broadcast at bench tiers, planner's
        # call at scale — no hint (guide §3.1)
        .join(on, li.l_orderkey == on.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0).cast(_DEC)))
            .cast("double")
            .alias("nation_volume"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
        .orderBy("o_year")
    )


def q_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape: per line status, how many lines shipped in 1996
    belong to critical-priority orders vs not — one CASE-count aggregate
    over the orders⋈lineitem join, with the date range pushed to the
    lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning both
    join sides (brand×size×quantity bands).  The part side is broadcast;
    the lineitem-only disjuncts' quantity bound (l_quantity <= 36, the max
    over all bands) is pushed to the fact scan so the join probes fewer
    rows than the raw table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 12)
    )
    band2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 25)
        & F.col("l_quantity").between(12, 24)
    )
    band3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 40)
        & F.col("l_quantity").between(24, 36)
    )
    return (
        li.where(F.col("l_quantity") <= 36)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(band1 | band2 | band3)
        .agg(
            F.sum(_revenue_col()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (adapted to the driver schema, which has no
    commit/receipt dates): suppliers who are the SOLE returner in
    multi-supplier finished orders.  EXISTS → left-semi hash join on
    orderkey with a non-equi suppkey filter; NOT EXISTS → left-anti with
    the same shape; both reuse one shuffle of lineitem by orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    sole_returner = (
        l1.join(
            o.where(F.col("o_orderstatus") == "F").select("o_orderkey"),
            l1.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            l2,
            (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2),
            "leftsemi",
        )
        .join(
            l3,
            (l1.l_orderkey == l3.o3) & (l1.l_suppkey != l3.s3),
            "leftanti",
        )
    )
    return (
        sole_returner.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: well-funded customers with no orders, grouped into
    5 synthetic segments.  The positive-average threshold is applied by
    decimal cross-multiplication (c_acctbal · n > Σ acctbal) so the
    comparison is exact in both engines — no float average ordering hazard.
    The idleness test (no order since 2000) is a left-anti join on custkey
    with the date filter pushed below the join build side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pos = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(_DEC)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    recent = o.where(F.col("o_orderdate") >= F.lit("2000-01-01")).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))
        .where(F.col("c_acctbal").cast(_DEC) * F.col("n") > F.col("s"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "leftanti")
        .groupBy((F.col("c_nationkey") % 5).cast("long").alias("cust_group"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("totacctbal"),
        )
        .orderBy("cust_group")
    )


def q_returned_item_revenue(spark, sf_dir):
    """TPC-H Q10 shape: lost-revenue ranking — customers by revenue of
    returned items in one quarter, top 20.  Fact join shuffles once; the
    customer/nation dims broadcast; deterministic tiebreak on custkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_revenue_col()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the MAXIMUM quarterly
    revenue — group aggregate compared against its own scalar max.  The
    comparison is on the DECIMAL total (exact), so ties and the winner
    are engine-identical; the one-row max is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_revenue_col()).alias("total"))
    )
    # rev feeds both the scalar max and the equality filter — truncate so
    # the quarterly lineitem aggregate runs once (r12, guide §2.4).
    # Block lifetime (ADVICE r12): checkpoint blocks are freed by the
    # ContextCleaner when the plan's python refs drop — bench.py drops
    # them and gc.collect()s after every query, and CI/driver sessions
    # are per-process, so repeated invocations do not accumulate.
    rev = rev.localCheckpoint(eager=False)
    mx = rev.agg(F.max("total").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


def q_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (IN-subquery over a grouped HAVING), re-joined to customers, top 100.
    The HAVING side plans as a semi-join of orders against the aggregated
    lineitem — the aggregate, not the raw fact, crosses the join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .where(F.col("qty") > 250)
        .select("l_orderkey", "qty")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q_segment_set_ops(spark, sf_dir):
    """Set operators as first-class relational surface: users with a
    big-ticket purchase AND a high-value click but no severe error —
    INTERSECT then EXCEPT over distinct user sets.  Spark plans these as
    aggregate + hash joins (semi/anti) on the already-distinct key sets,
    shuffling ids only — never the event payloads."""
    ev = load_table(spark, sf_dir, "events")

    def users(etype, min_value):
        return ev.where(
            (F.col("event_type") == etype) & (F.col("value") >= min_value)
        ).select("user_id")

    return (
        users("purchase", 200.0)
        .intersect(users("click", 150.0))
        .subtract(users("error", 490.0))
        .orderBy("user_id")
    )


def q_quantity_quartiles(spark, sf_dir):
    """Interpolated quartiles (percentile_cont semantics) of l_quantity per
    return flag.  Exact distributed percentile: Spark's percentile()
    aggregates the full sorted distribution per group; values are
    integer-valued doubles and quartile fractions are exact binary
    rationals, so interpolation is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(l_quantity, array(0.25D, 0.5D, 0.75D))"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            pct.getItem(0).alias("q25"),
            pct.getItem(1).alias("q50"),
            pct.getItem(2).alias("q75"),
        )
        .orderBy("l_returnflag")
    )


def q_window_rank_suite(spark, sf_dir):
    """Ranking-window parity in one pass: rank, dense_rank, percent_rank,
    cume_dist over the same (partition, order) spec — one shuffle, one
    sort, all four functions share the window frame.  Floats in
    percent_rank/cume_dist are exact (small-integer ratios)."""
    from pyspark.sql import Window

    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return (
        s.select(
            "s_nationkey",
            "s_suppkey",
            F.rank().over(w).cast("long").alias("rk"),
            F.dense_rank().over(w).cast("long").alias("drk"),
            F.percent_rank().over(w).alias("prk"),
            F.cume_dist().over(w).alias("cd"),
        )
        .where(F.col("rk") <= 5)
        .orderBy("s_nationkey", "s_suppkey")
    )


def q_calendar_rollup(spark, sf_dir):
    """Calendar-semantics parity: revenue by (year, quarter, ISO day of
    week).  Spark's dayofweek is 1=Sunday; the oracle maps DuckDB's
    isodow onto the same numbering, pinning the cross-engine calendar
    convention explicitly."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.quarter("o_orderdate").cast("long").alias("o_quarter"),
            F.dayofweek("o_orderdate").cast("long").alias("o_dow"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_year", "o_quarter", "o_dow")
    )


def q_string_funcs(spark, sf_dir):
    """Scalar string-function parity on one projection: initcap, lpad,
    translate, substring-split, reverse, and conditional classification —
    all JVM-side Column expressions, no UDF."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.initcap(F.lower(F.col("c_name"))).alias("name_title"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
            F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_xlate"),
            F.substring_index(F.col("c_name"), "#", -1).alias("name_suffix"),
            F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
            F.when(F.length("c_name") % 2 == 0, "even").otherwise("odd").alias(
                "name_parity"
            ),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


def q_attribution(spark, sf_dir):
    """Last-click attribution (streaming/join_stream.py run in batch mode —
    the SAME plan is the watermarked stream-stream interval join): each
    purchase matched to the user's latest click in the prior 24 h, reduced
    by one struct-max aggregate.  Oracle: interval self-join + ROW_NUMBER."""
    from tsatool_app_spark.streaming.join_stream import (
        attribute_purchases,
        click_purchase_pairs,
    )

    ev = load_table(spark, sf_dir, "events")
    pairs = click_purchase_pairs(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        window_seconds=86400,
        keep_unmatched=True,  # unattributed purchases appear with null click
    )
    return attribute_purchases(pairs).orderBy("purchase_id")


def q_dedup_chunks(spark, sf_dir):
    """Cross-document repeated-passage removal (functions/corpus.py
    drop_duplicate_chunks): 32-token non-overlapping windows, first
    corpus-wide occurrence wins, documents rebuilt from survivors.  The
    wide stage shuffles md5 triples, never chunk text."""
    from tsatool_app_spark.functions.corpus import drop_duplicate_chunks

    return drop_duplicate_chunks(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def q_org_rollup(spark, sf_dir):
    """Hierarchy subtree rollup (operators/graph.py): purchase totals over
    each node's subtree in a synthetic org tree (parent = user div 2).
    The closure is built by pointer DOUBLING — ⌈log₂ depth⌉ self-joins,
    not depth-many sequential rounds; the oracle walks the same tree with
    a recursive CTE.  Decimal-exact per-subtree sums."""
    from tsatool_app_spark.operators.graph import subtree_rollup

    ev = load_table(spark, sf_dir, "events")
    nodes = (
        ev.select(F.col("user_id").alias("node"))
        .distinct()
        .withColumn("parent", F.expr("node div 2"))
    )
    vals = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("node"), F.col("value").alias("val")
    )
    return (
        subtree_rollup(nodes, vals, id_col="node", parent_col="parent", value_col="val")
        .orderBy("node")
    )


def q_inactive_days(spark, sf_dir):
    """Calendar anti-join with a GENERATED dense grid: per user, the days
    in the observation span with no activity.  sequence()+explode builds
    the grid from the one-row global bounds (broadcast); the anti-join
    runs against the distinct (user, day) activity set — shuffles bounded
    by entities × days, never by raw event volume."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    )
    bounds = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    # ONE full-volume distinct; users derive from it (already tiny), so the
    # raw table is scanned for bounds + activity only, never a third time
    active = ev.distinct().localCheckpoint(eager=False)
    users = active.select("user_id").distinct()
    return (
        users.crossJoin(F.broadcast(grid))
        .join(active, ["user_id", "day"], "leftanti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_inactive_days"))
        .orderBy("user_id")
    )


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond ROLLUP/CUBE, operators/olap.py):
    two independent single-column groupings + grand total in ONE
    aggregate pass, with per-column grouping() flags — the portable way
    to label subtotal levels (bit order of grouping_id() differs across
    engines; per-column flags do not)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(grouping(seg) AS BIGINT) AS g_seg,
               coalesce(event_type, 'ALL') AS etype,
               coalesce(CAST(seg AS STRING), 'ALL') AS seg_label,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM (SELECT event_type, user_id % 10 AS seg, value FROM _gs_events)
        GROUP BY GROUPING SETS ((event_type), (seg), ())
        ORDER BY g_type, g_seg, etype, seg_label
        """
    )


def q_null_semantics(spark, sf_dir):
    """NULL-semantics parity pinned end to end: a derived nullable column,
    null-safe equality (<=> / IS NOT DISTINCT FROM), NULLIF, a COALESCE
    chain, and — observable through the LIMIT — explicit NULLS LAST
    ordering (Spark default is nulls-first ASC, DuckDB nulls-last: left
    implicit, the same query silently selects different rows)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    nv = F.when(F.col("value") < 250.0, F.lit(None)).otherwise(F.col("value"))
    return (
        ev.select(
            "event_id",
            "user_id",
            nv.alias("nullable_val"),
            nv.eqNullSafe(F.lit(None).cast("double")).alias("is_missing"),
            F.nullif(F.col("user_id"), F.lit(7)).cast("long").alias("uid_nz"),
            F.coalesce(nv, F.col("value") * -1).alias("filled"),
        )
        .orderBy(F.col("nullable_val").asc_nulls_last(), "event_id")
        .limit(200)
    )


def q_array_funcs(spark, sf_dir):
    """Array/higher-order-function parity over the embedding column: size,
    min/max, sorted prefix, lambda filter count.  float32 values widen to
    identical float64 in both engines, so comparisons are exact.  The
    sorted prefix is emitted as THREE SCALAR columns (b1..b3), not an
    array — the driver's canonicalizer hashes scalar cells only (an
    array-typed column made this the lone driver-red row in r4; values
    were always correct)."""
    emb = load_table(spark, sf_dir, "embeddings")
    bot = F.array_sort("embedding")
    return (
        emb.select(
            "vec_id",
            F.size("embedding").cast("long").alias("n_dims"),
            F.array_min("embedding").cast("double").alias("vmin"),
            F.array_max("embedding").cast("double").alias("vmax"),
            F.get(bot, 0).cast("double").alias("b1"),
            F.get(bot, 1).cast("double").alias("b2"),
            F.get(bot, 2).cast("double").alias("b3"),
            F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        )
        .orderBy("vec_id")
        .limit(500)
    )


def q_fuzzy_nation_match(spark, sf_dir):
    """Edit-distance fuzzy matching (entity-resolution kernel): corrupted
    nation-name probes (deterministic one-char deletion) matched to the
    nation dimension by minimum Levenshtein distance.  The clean dimension
    is broadcast; each probe scans it map-side — the standard shape for
    normalizing messy categorical columns at scale (probe side arbitrarily
    large, dimension side small)."""
    n = load_table(spark, sf_dir, "nation")
    probes = n.select(
        F.concat(F.lit("NATON_"), F.col("n_nationkey").cast("string")).alias("probe")
    )
    cand = probes.join(
        F.broadcast(n.select("n_name")),
        F.levenshtein(F.col("probe"), F.col("n_name")) <= 2,
    ).select("probe", "n_name", F.levenshtein("probe", "n_name").alias("dist"))
    from pyspark.sql import Window

    w = Window.partitionBy("probe").orderBy("dist", "n_name")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("probe", F.col("n_name").alias("matched"), "dist")
        .orderBy("probe")
    )


def q_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank (operators/graph.py) over the
    supplier↔customer transaction graph, 3 iterations.  Int64 micro-unit
    arithmetic makes every step order-independent, so the unrolled-CTE
    DuckDB oracle is exactly equal — the iterative-algorithm class with a
    real hash-check, not a rows-only pass."""
    from tsatool_app_spark.operators.graph import pagerank_fixed_point

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_fixed_point(edges, iters=3).orderBy("node")


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Generated from the SAME recurrence constants as the Spark
    implementation so the two cannot drift.  Every CTE referenced more
    than once is MATERIALIZED: DuckDB otherwise re-inlines `pairs` (the
    DISTINCT lineitem⋈orders edge build) into each of the ~2 references
    per iteration, which is what blew the 45 s oracle budget at sf1
    (r5 VERDICT next-round #4; measured 10 s at sf1 materialized)."""
    head = """
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
consts AS MATERIALIZED (
  SELECT CAST(1000000 // count(*) AS BIGINT) AS r0,
         CAST((15 * (1000000 // count(*))) // 100 AS BIGINT) AS jump
  FROM nodes
),
pr0 AS (SELECT node, r0 AS rank FROM nodes, consts)"""
    its = []
    for k in range(1, iters + 1):
        its.append(f""",
pr{k} AS MATERIALIZED (
  SELECT nd.node,
         (SELECT jump FROM consts) + (85 * COALESCE(s.contrib, 0)) // 100 AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank // d.deg) AS contrib
    FROM e JOIN pr{k - 1} p ON e.src = p.node JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON nd.node = s.node
)""")
    return head + "".join(its) + f"""
SELECT node, CAST(rank AS BIGINT) AS rank FROM pr{iters} ORDER BY node"""


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (functions/sampling.py): the split
    key is the near-dup CLUSTER (connected components over verified LSH
    pairs), so near-identical documents can never straddle splits.  The
    full pipeline — exact dedup → MinHash LSH → exact-Jaccard verify →
    components → cluster-keyed md5 split — in one DAG; oracle recomputes
    the closure with a recursive CTE over the candidate-restricted exact
    edge set."""
    from tsatool_app_spark.functions.dedup import (
        connected_components,
        near_dup_pairs_dedup_first,
    )
    from tsatool_app_spark.functions.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    verified = near_dup_pairs_dedup_first(docs, min_jaccard=0.85).select(
        "id_a", "id_b"
    )
    comps = connected_components(verified)
    return leakage_safe_split(docs, comps).orderBy("doc_id")


def q_ewma_smooth(spark, sf_dir):
    """Per-key EWMA (operators/timeseries.ewma_by_key): the documented
    applyInPandas case — a genuinely sequential per-key recurrence,
    parallel across keys.  α=0.5 makes every step two IEEE multiplies and
    one add in a fixed order, so the recursive-CTE oracle is bit-identical."""
    from tsatool_app_spark.operators.timeseries import ewma_by_key

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
    )
    return ewma_by_key(
        ev, key_col="user_id", order_col="event_id", value_col="value"
    ).orderBy("user_id", "event_id")


def q_distinct_users_daily(spark, sf_dir):
    """Exact per-day distinct users — the hash-checked twin of the HLL
    sketch rollup (functions/sketches.py; sketch-vs-exact error bound is
    pytest-verified per the approximate-operator evidence policy)."""
    from tsatool_app_spark.functions.sketches import exact_distinct_by_group

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date").cast("string")
    )
    return exact_distinct_by_group(ev, ["day"], "user_id")


def q_nation_balance_share(spark, sf_dir):
    """TPC-H Q11 shape: groups whose aggregate exceeds a fraction of the
    global aggregate (HAVING against a scalar subquery).  The comparison
    is decimal cross-multiplied (nation_sum · 22 > global_sum) so the
    threshold is exact in both engines; the one-row global aggregate is
    broadcast onto the per-nation aggregate."""
    s = load_table(spark, sf_dir, "supplier")
    per_nation = s.groupBy("s_nationkey").agg(
        F.sum(F.col("s_acctbal").cast(_DEC)).alias("nation_bal")
    )
    total = s.agg(F.sum(F.col("s_acctbal").cast(_DEC)).alias("total_bal"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .where(F.col("nation_bal") * 22 > F.col("total_bal"))
        .select(
            "s_nationkey",
            F.col("nation_bal").cast("double").alias("nation_bal"),
            (F.col("nation_bal").cast("double") / F.col("total_bal").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("s_nationkey")
    )


_REV_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

ORACLES["volume_shipping"] = f"""
WITH j AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         {_REV_SQL} AS vol
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
)
SELECT supp_nation, cust_nation, l_year, CAST(SUM(vol) AS DOUBLE) AS revenue
FROM j
WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
   OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year"""

ORACLES["market_share"] = f"""
WITH j AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {_REV_SQL} AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
       CAST(SUM(vol) AS DOUBLE) AS total_volume,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(vol) AS DOUBLE) AS mkt_share
FROM j GROUP BY o_year ORDER BY o_year"""

ORACLES["shipmode_priority"] = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus"""

ORACLES["disjunctive_revenue"] = f"""
SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 12)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 12 AND 24)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 24 AND 36)"""

ORACLES["waiting_suppliers"] = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""

ORACLES["idle_customers"] = """
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_nationkey % 5 AS BIGINT) AS cust_group,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cust_group ORDER BY cust_group"""

ORACLES["returned_item_revenue"] = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20"""

ORACLES["top_supplier"] = f"""
WITH revenue AS (
  SELECT l_suppkey, SUM({_REV_SQL}) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total = (SELECT MAX(total) FROM revenue)
ORDER BY s_suppkey"""

ORACLES["large_volume_orders"] = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(qty AS DOUBLE) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""

QUERIES["returned_item_revenue"] = DriverQuery(
    q_returned_item_revenue, ORACLES["returned_item_revenue"]
)
QUERIES["top_supplier"] = DriverQuery(q_top_supplier, ORACLES["top_supplier"])
QUERIES["large_volume_orders"] = DriverQuery(
    q_large_volume_orders, ORACLES["large_volume_orders"]
)

ORACLES["segment_set_ops"] = """
SELECT user_id FROM events WHERE event_type = 'purchase' AND value >= 200.0
INTERSECT
SELECT user_id FROM events WHERE event_type = 'click' AND value >= 150.0
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value >= 490.0
ORDER BY user_id"""

ORACLES["quantity_quartiles"] = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

ORACLES["window_rank_suite"] = """
WITH w AS (
  SELECT s_nationkey, s_suppkey,
         CAST(rank() OVER win AS BIGINT) AS rk,
         CAST(dense_rank() OVER win AS BIGINT) AS drk,
         percent_rank() OVER win AS prk,
         cume_dist() OVER win AS cd
  FROM supplier
  WINDOW win AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
)
SELECT * FROM w WHERE rk <= 5 ORDER BY s_nationkey, s_suppkey"""

ORACLES["calendar_rollup"] = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
       CAST(isodow(o_orderdate) % 7 + 1 AS BIGINT) AS o_dow,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_year, o_quarter, o_dow
ORDER BY o_year, o_quarter, o_dow"""

ORACLES["string_funcs"] = """
SELECT c_custkey,
       -- DuckDB lacks initcap; Customer#000000001 has a single word, so
       -- title-casing == ucfirst(lower(name))
       upper(substring(lower(c_name), 1, 1)) || substring(lower(c_name), 2)
         AS name_title,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_xlate,
       CASE WHEN position('#' IN c_name) = 0 THEN c_name
            ELSE array_extract(string_split(c_name, '#'), -1) END AS name_suffix,
       reverse(c_mktsegment) AS seg_rev,
       CASE WHEN length(c_name) % 2 = 0 THEN 'even' ELSE 'odd' END AS name_parity
FROM customer ORDER BY c_custkey LIMIT 500"""

QUERIES["window_rank_suite"] = DriverQuery(
    q_window_rank_suite, ORACLES["window_rank_suite"]
)
QUERIES["calendar_rollup"] = DriverQuery(q_calendar_rollup, ORACLES["calendar_rollup"])
QUERIES["string_funcs"] = DriverQuery(q_string_funcs, ORACLES["string_funcs"])

ORACLES["attribution"] = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value AS amount
  FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, p.amount,
         c.click_id, c.click_ts
  FROM p LEFT JOIN c ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts > p.purchase_ts - INTERVAL 86400 SECONDS
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY purchase_id ORDER BY click_ts DESC, click_id DESC) AS rn
  FROM pairs
)
SELECT user_id, purchase_id, purchase_ts, amount,
       click_id AS attributed_click_id, click_ts AS attributed_click_ts
FROM ranked WHERE rn = 1 ORDER BY purchase_id"""

QUERIES["attribution"] = DriverQuery(q_attribution, ORACLES["attribution"])

ORACLES["grouping_sets"] = """
SELECT CAST(grouping(event_type) AS BIGINT) AS g_type,
       CAST(grouping(seg) AS BIGINT) AS g_seg,
       coalesce(event_type, 'ALL') AS etype,
       coalesce(CAST(seg AS VARCHAR), 'ALL') AS seg_label,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT event_type, user_id % 10 AS seg, value FROM events)
GROUP BY GROUPING SETS ((event_type), (seg), ())
ORDER BY g_type, g_seg, etype, seg_label"""

ORACLES["null_semantics"] = """
SELECT event_id, user_id,
       CASE WHEN value < 250.0 THEN NULL ELSE value END AS nullable_val,
       (CASE WHEN value < 250.0 THEN NULL ELSE value END)
         IS NOT DISTINCT FROM NULL AS is_missing,
       CAST(nullif(user_id, 7) AS BIGINT) AS uid_nz,
       coalesce(CASE WHEN value < 250.0 THEN NULL ELSE value END, value * -1)
         AS filled
FROM events WHERE user_id < 20
ORDER BY nullable_val ASC NULLS LAST, event_id LIMIT 200"""

ORACLES["array_funcs"] = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       CAST(list_min(embedding) AS DOUBLE) AS vmin,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       CAST(list_sort(embedding)[1] AS DOUBLE) AS b1,
       CAST(list_sort(embedding)[2] AS DOUBLE) AS b2,
       CAST(list_sort(embedding)[3] AS DOUBLE) AS b3,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
FROM embeddings ORDER BY vec_id LIMIT 500"""

ORACLES["dedup_chunks"] = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), chunks AS (
  SELECT doc_id,
         CAST((g - 1) // 32 AS INTEGER) AS chunk_id,
         array_to_string(list_slice(toks, g, least(g + 31, len(toks))), ' ') AS chunk_text,
         CAST(greatest(least(g + 31, len(toks)) - g + 1, 0) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks), 1), 32)) AS g
        FROM base)
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rn
  FROM chunks WHERE n_tokens > 0
)
SELECT doc_id,
       string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM ranked WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"""

QUERIES["dedup_chunks"] = DriverQuery(q_dedup_chunks, ORACLES["dedup_chunks"])

ORACLES["org_rollup"] = """
WITH RECURSIVE nodes AS (
  SELECT DISTINCT user_id AS node FROM events
), par AS (
  SELECT node, node // 2 AS parent FROM nodes
), anc AS (
  SELECT node, parent AS anc FROM par WHERE parent <> node
  UNION
  SELECT a.node, p.parent
  FROM anc a JOIN par p ON a.anc = p.node
  WHERE p.parent <> p.node
), contrib AS (
  SELECT anc AS node, node AS src FROM anc
  UNION ALL
  SELECT node, node AS src FROM nodes
), vals AS (
  SELECT user_id AS node, value FROM events WHERE event_type = 'purchase'
)
SELECT c.node,
       COALESCE(CAST(SUM(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
         AS subtree_total,
       CAST(COUNT(v.value) AS BIGINT) AS subtree_n
FROM contrib c LEFT JOIN vals v ON c.src = v.node
GROUP BY c.node ORDER BY c.node"""

QUERIES["org_rollup"] = DriverQuery(q_org_rollup, ORACLES["org_rollup"])

ORACLES["inactive_days"] = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
), bounds AS (
  SELECT min(day) AS mn, max(day) AS mx FROM ev
), grid AS (
  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), active AS (
  SELECT DISTINCT user_id, day FROM ev
), users AS (
  SELECT DISTINCT user_id FROM ev
)
SELECT u.user_id, CAST(COUNT(*) AS BIGINT) AS n_inactive_days
FROM users u CROSS JOIN grid g
WHERE NOT EXISTS (
  SELECT 1 FROM active a WHERE a.user_id = u.user_id AND a.day = g.day
)
GROUP BY u.user_id ORDER BY u.user_id"""

QUERIES["inactive_days"] = DriverQuery(q_inactive_days, ORACLES["inactive_days"])
QUERIES["grouping_sets"] = DriverQuery(q_grouping_sets, ORACLES["grouping_sets"])
QUERIES["null_semantics"] = DriverQuery(q_null_semantics, ORACLES["null_semantics"])
QUERIES["array_funcs"] = DriverQuery(q_array_funcs, ORACLES["array_funcs"])

ORACLES["fuzzy_nation_match"] = """
WITH probes AS (
  SELECT 'NATON_' || CAST(n_nationkey AS VARCHAR) AS probe FROM nation
), cand AS (
  SELECT probe, n_name, CAST(levenshtein(probe, n_name) AS INTEGER) AS dist
  FROM probes, nation
  WHERE levenshtein(probe, n_name) <= 2
), ranked AS (
  SELECT probe, n_name, dist,
         row_number() OVER (PARTITION BY probe ORDER BY dist, n_name) AS rk
  FROM cand
)
SELECT probe, n_name AS matched, dist FROM ranked WHERE rk = 1 ORDER BY probe"""

ORACLES["ewma_smooth"] = """
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, event_id, value, rn, value AS ewma FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.value, b.rn, 0.5 * b.value + 0.5 * r.ewma
  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, event_id, value, ewma FROM r ORDER BY user_id, event_id"""

ORACLES["distinct_users_daily"] = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY day ORDER BY day"""

ORACLES["nation_balance_share"] = """
WITH per_nation AS (
  SELECT s_nationkey, SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS nation_bal
  FROM supplier GROUP BY s_nationkey
), total AS (
  SELECT SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS total_bal FROM supplier
)
SELECT s_nationkey,
       CAST(nation_bal AS DOUBLE) AS nation_bal,
       CAST(nation_bal AS DOUBLE) / CAST(total_bal AS DOUBLE) AS share
FROM per_nation, total
WHERE nation_bal * 22 > total_bal
ORDER BY s_nationkey"""

ORACLES["leakage_safe_split"] = f"""
WITH RECURSIVE {_NEARDUP_COMPONENTS_CTES},
clustered AS (
  SELECT d.doc_id,
         CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, cluster,
       CASE WHEN ('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4))::INT % 100 < 80
              THEN 'train'
            WHEN ('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4))::INT % 100 < 90
              THEN 'val'
            ELSE 'test' END AS split
FROM clustered ORDER BY doc_id"""

ORACLES["pagerank"] = _pagerank_oracle_sql(3)

QUERIES["pagerank"] = DriverQuery(q_pagerank, ORACLES["pagerank"])
QUERIES["leakage_safe_split"] = DriverQuery(
    q_leakage_safe_split, ORACLES["leakage_safe_split"]
)
QUERIES["ewma_smooth"] = DriverQuery(q_ewma_smooth, ORACLES["ewma_smooth"])
QUERIES["distinct_users_daily"] = DriverQuery(
    q_distinct_users_daily, ORACLES["distinct_users_daily"]
)
QUERIES["nation_balance_share"] = DriverQuery(
    q_nation_balance_share, ORACLES["nation_balance_share"]
)
QUERIES["volume_shipping"] = DriverQuery(q_volume_shipping, ORACLES["volume_shipping"])
QUERIES["market_share"] = DriverQuery(q_market_share, ORACLES["market_share"])
QUERIES["shipmode_priority"] = DriverQuery(
    q_shipmode_priority, ORACLES["shipmode_priority"]
)
QUERIES["disjunctive_revenue"] = DriverQuery(
    q_disjunctive_revenue, ORACLES["disjunctive_revenue"]
)
QUERIES["waiting_suppliers"] = DriverQuery(
    q_waiting_suppliers, ORACLES["waiting_suppliers"]
)
QUERIES["idle_customers"] = DriverQuery(q_idle_customers, ORACLES["idle_customers"])
QUERIES["segment_set_ops"] = DriverQuery(
    q_segment_set_ops, ORACLES["segment_set_ops"]
)
QUERIES["quantity_quartiles"] = DriverQuery(
    q_quantity_quartiles, ORACLES["quantity_quartiles"]
)
QUERIES["fuzzy_nation_match"] = DriverQuery(
    q_fuzzy_nation_match, ORACLES["fuzzy_nation_match"]
)


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def q_setsim_pairs(spark, sf_dir):
    """Exact near-dup pairs via prefix-filtered set-similarity join
    (functions/setsim.py) — the deterministic twin of minhash_pairs: same
    question ("which documents are near-duplicates?"), exact answer, still
    sub-quadratic. Jaccard >= 3/5 on word 5-gram sets; integer
    intersection/union sizes so the hash comparison is engine-exact.
    Runs dedup-first (functions/setsim.setsim_join_dedup_first): the
    prefix join covers one representative per distinct text and the md5
    groups expand the answer — identical output (gram sets are pure
    functions of the text, pinned by test), clone-proof cost."""
    from tsatool_app_spark.functions.setsim import setsim_join_dedup_first

    return setsim_join_dedup_first(
        load_table(spark, sf_dir, "documents"), threshold_num=3, threshold_den=5
    )


ORACLES["setsim_pairs"] = f"""
WITH {_NEARDUP_WORD_35}
SELECT id_a AS doc_a, id_b AS doc_b, inter_size, union_size
FROM pairs ORDER BY doc_a, doc_b"""

QUERIES["setsim_pairs"] = DriverQuery(q_setsim_pairs, ORACLES["setsim_pairs"])


def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts (operators/graph.triangle_counts) on the
    temporal order-proximity graph: two orders are adjacent iff they come
    from the same customer within 30 days — node count and edge count both
    scale linearly with the data while expected degree stays constant
    (unlike co-occurrence graphs over a small dimension universe, which go
    complete as sf grows). Degree-ordered orientation bounds the wedge
    join on skewed neighborhoods; the DuckDB oracle is the naive
    id-ordered triple join."""
    from tsatool_app_spark.operators.graph import triangle_counts

    o = load_table(spark, sf_dir, "orders")
    a, b = o.alias("oa"), o.alias("ob")
    edges = a.join(
        b,
        (F.col("oa.o_custkey") == F.col("ob.o_custkey"))
        & (F.col("oa.o_orderkey") < F.col("ob.o_orderkey"))
        & (
            F.abs(F.datediff(F.col("oa.o_orderdate"), F.col("ob.o_orderdate")))
            <= 30
        ),
    ).select(
        F.col("oa.o_orderkey").alias("src"), F.col("ob.o_orderkey").alias("dst")
    )
    return triangle_counts(edges)


ORACLES["triangle_counts"] = """
WITH e AS (
  SELECT a.o_orderkey AS a, b.o_orderkey AS b
  FROM orders a JOIN orders b
    ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
   AND abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 30
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY node"""

QUERIES["triangle_counts"] = DriverQuery(q_triangle_counts, ORACLES["triangle_counts"])


def q_tfidf_search(spark, sf_dir):
    """Rational-idf tf-idf retrieval (functions/search.tfidf_topk): integer
    quantized idf = floor(1e6·N/df) makes scores engine-exact, giving the
    tf-idf ranking family a hash-checked board entry next to the integer
    keyword ranker; float BM25 stays pytest-verified per the evidence
    policy."""
    from tsatool_app_spark.functions.search import tfidf_topk

    return tfidf_topk(
        load_table(spark, sf_dir, "documents"), ["spark", "window", "hash"], k=20
    )


ORACLES["tfidf_search"] = """
WITH hits AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
m AS (SELECT doc_id, term FROM hits WHERE term IN ('spark', 'window', 'hash')),
n AS (SELECT count(*) AS n FROM documents),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM m GROUP BY term),
idf AS (
  SELECT term, CAST(floor(1000000 * (SELECT n FROM n) / df) AS BIGINT) AS idf_q
  FROM dfs
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM m GROUP BY doc_id, term)
SELECT doc_id, CAST(sum(tf.tf * idf.idf_q) AS BIGINT) AS score_q
FROM tf JOIN idf USING (term)
GROUP BY doc_id
ORDER BY score_q DESC, doc_id
LIMIT 20"""

QUERIES["tfidf_search"] = DriverQuery(q_tfidf_search, ORACLES["tfidf_search"])


def q_cms_probe(spark, sf_dir):
    """Count-min sketch (functions/sketches.cms_build/cms_estimate) over
    lineitem.l_suppkey, probed for every supplier key.  md5 bucket hashing
    is engine-portable, so the DuckDB oracle rebuilds the identical sketch
    cell-for-cell — the approximate-sketch class with a real hash-check."""
    from tsatool_app_spark.functions.sketches import cms_build, cms_estimate

    li = load_table(spark, sf_dir, "lineitem")
    sk = cms_build(li, "l_suppkey", width=256, depth=4)
    probes = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k")
    ).distinct()
    return cms_estimate(sk, probes, "k", width=256, depth=4)


ORACLES["cms_probe"] = """
WITH rows_ AS (SELECT unnest(range(0, 4)) AS row),
cells AS (
  SELECT r.row AS row,
         ('0x' || substring(md5('cms' || r.row || '|' || CAST(l_suppkey AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket,
         count(*) AS cnt
  FROM lineitem, rows_ r
  GROUP BY 1, 2
),
probes AS (SELECT DISTINCT s_suppkey AS key FROM supplier),
probe_cells AS (
  SELECT p.key, r.row,
         ('0x' || substring(md5('cms' || r.row || '|' || CAST(p.key AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket
  FROM probes p, rows_ r
)
SELECT pc.key, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
FROM probe_cells pc LEFT JOIN cells c ON pc.row = c.row AND pc.bucket = c.bucket
GROUP BY pc.key ORDER BY pc.key"""

QUERIES["cms_probe"] = DriverQuery(q_cms_probe, ORACLES["cms_probe"])


def q_hashed_features(spark, sf_dir):
    """Hashing-trick featurization (functions/mlprep.hashed_features):
    signed 64-bucket bag-of-words triples, md5-mapped so the oracle folds
    the identical vector."""
    from tsatool_app_spark.functions.mlprep import hashed_features

    return hashed_features(load_table(spark, sf_dir, "documents"), n_buckets=64)


ORACLES["hashed_features"] = """
WITH terms AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
h AS (SELECT doc_id, md5('fh|' || term) AS hh FROM terms),
tr AS (
  SELECT doc_id,
         CAST(('0x' || substring(hh, 1, 8))::BIGINT % 64 AS INT) AS bucket,
         CASE WHEN ('0x' || substring(hh, 9, 1))::INT % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM h
)
SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight
FROM tr GROUP BY doc_id, bucket
HAVING sum(sign) <> 0
ORDER BY doc_id, bucket"""

QUERIES["hashed_features"] = DriverQuery(q_hashed_features, ORACLES["hashed_features"])


def q_simhash_md5(spark, sf_dir):
    """Portable SimHash (functions/dedup.simhash_signatures(portable=True)):
    32-bit signatures from md5-derived shingle hashes, per-bit majority in
    one groupBy.  The engine-native xxhash64 variant stays pytest-only;
    this twin gives the SimHash family a driver-visible hash-check."""
    from tsatool_app_spark.functions.dedup import simhash_signatures

    return simhash_signatures(
        load_table(spark, sf_dir, "documents"), bits=32, shingle_k=3, portable=True
    ).orderBy("doc_id")


def _simhash_md5_oracle_sql(bits: int = 32, k: int = 3) -> str:
    """Generated from the SAME bit recurrence as the Spark implementation
    (per-bit conditional sums over md5-derived 56-bit shingle hashes)."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - {k - 1}, 1) + 1),
                               i -> text[i:i+{k - 1}])) AS s
  FROM documents
),
hs AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 14))::BIGINT AS h FROM sh),
v AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v ORDER BY doc_id"""


ORACLES["simhash_md5"] = _simhash_md5_oracle_sql(32, 3)

QUERIES["simhash_md5"] = DriverQuery(q_simhash_md5, ORACLES["simhash_md5"])


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (functions/bpe.py): 6 merge rounds on the
    documents vocabulary. The separator-encoded literal-replace merge makes
    the whole iterative run engine-exact, so the oracle — an unrolled CTE
    chain re-deriving every argmax — matches hash-for-hash (same pattern
    as pagerank's fixed-point oracle)."""
    from tsatool_app_spark.functions.bpe import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), n_merges=6)


def _bpe_oracle_sql(n_merges: int = 6, tok_sql: str | None = None) -> str:
    """Generated from the SAME recurrence as functions/bpe.bpe_train: pair
    counts weighted by word freq, argmax with (count desc, left, right)
    tie-break, separator-encoded replace.  ``tok_sql`` overrides the
    word-extraction expression (default: the single-space split, byte-
    identical to the certified bpe_merges oracle); bpe_pretok_merges
    passes the regexp_extract_all class pretokenizer over injected
    text."""
    s1 = "chr(31)"
    s2 = "chr(31) || chr(31)"
    if tok_sql is None:
        tok_sql = "unnest(list_filter(string_split(text, ' '), x -> x <> ''))"
    head = f"""
WITH vocab AS (
  SELECT word, count(*) AS freq FROM (
    SELECT {tok_sql} AS word
    FROM documents
  ) WHERE NOT contains(word, chr(31))
  GROUP BY word
),
v0 AS (
  SELECT {s1} || array_to_string(string_split(word, ''), {s2}) || {s1} AS rep,
         freq
  FROM vocab
)"""
    its = []
    for k in range(1, n_merges + 1):
        its.append(f""",
pc{k} AS (
  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS c
  FROM (
    SELECT string_split(substring(rep, 2, length(rep) - 2), {s2}) AS s, freq
    FROM v{k - 1}
  ), unnest(range(1, len(s))) AS u(i)
  GROUP BY 1, 2
),
best{k} AS (SELECT l, r, c FROM pc{k} ORDER BY c DESC, l, r LIMIT 1),
v{k} AS (
  SELECT replace(rep, {s1} || l || {s2} || r || {s1},
                      {s1} || l || r || {s1}) AS rep, freq
  FROM v{k - 1}, best{k}
)""")
    sel = "\nUNION ALL ".join(
        f"SELECT {k} AS rank, l AS \"left\", r AS \"right\", c AS pair_count FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return head + "".join(its) + f"""
{sel}
ORDER BY rank"""


ORACLES["bpe_merges"] = _bpe_oracle_sql(6)

QUERIES["bpe_merges"] = DriverQuery(q_bpe_merges, ORACLES["bpe_merges"])


def q_corr_components(spark, sf_dir):
    """Single-pass exact correlation moments for every pair of lineitem
    measures (functions/stats.corr_components): decimal sums, one scan,
    all pairs at once. Pearson's r derives from these at the edge
    (functions/stats.pearson_r, pytest-verified against numpy)."""
    from tsatool_app_spark.functions.stats import corr_components

    return corr_components(
        load_table(spark, sf_dir, "lineitem"),
        ["l_discount", "l_extendedprice", "l_quantity"],
    )


def _corr_components_sql(cols: list[str]) -> str:
    """Generated from the same pair list as the Spark implementation."""
    d = {c: f"CAST({c} AS DECIMAL(18,2))" for c in cols}
    sums = ", ".join(
        [f"count(*) AS n"]
        + [f"CAST(SUM({d[c]}) AS DOUBLE) AS s_{c}" for c in cols]
        + [
            f"CAST(SUM({d[x]} * {d[y]}) AS DOUBLE) AS p_{x}_{y}"
            for i, x in enumerate(cols)
            for y in cols[i:]
        ]
    )
    pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i:]]
    sel = "\nUNION ALL ".join(
        f"SELECT '{x}' AS x_col, '{y}' AS y_col, CAST(n AS BIGINT) AS n, "
        f"s_{x} AS sum_x, s_{y} AS sum_y, p_{x}_{x} AS sum_xx, "
        f"p_{y}_{y} AS sum_yy, p_{x}_{y} AS sum_xy FROM w"
        for x, y in pairs
    )
    return f"WITH w AS (\n  SELECT {sums}\n  FROM lineitem\n)\n{sel}\nORDER BY x_col, y_col"


ORACLES["corr_components"] = _corr_components_sql(
    ["l_discount", "l_extendedprice", "l_quantity"]
)

QUERIES["corr_components"] = DriverQuery(
    q_corr_components, ORACLES["corr_components"]
)


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids in exact integer arithmetic
    (functions/similarity.label_centroids): the vector-rollup shape —
    posexplode + one groupBy(label, dim) with map-side partial sums."""
    from tsatool_app_spark.functions.similarity import label_centroids

    return label_centroids(load_table(spark, sf_dir, "embeddings"))


ORACLES["label_centroids"] = """
SELECT label, CAST(i - 1 AS INT) AS dim,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
       CAST(count(*) AS BIGINT) AS n
FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
GROUP BY label, dim
ORDER BY label, dim"""

QUERIES["label_centroids"] = DriverQuery(
    q_label_centroids, ORACLES["label_centroids"]
)


# ---------------------------------------------------------------------------
# TPC-H parity completion: the four classic shapes still missing from the
# warehouse suite — Q2 (correlated min over a dim lattice), Q9 (profit
# decomposition by nation/year), Q16 (distinct-count with NOT-IN exclusion),
# Q20 (nested HAVING semi-join).  Adapted to the driver schema (no partsupp
# table: per-(part,supplier) cost derives from lineitem).
# ---------------------------------------------------------------------------


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each STANDARD part in a size band, the EUROPE
    supplier offering the minimum cost (min l_extendedprice observed for
    that part/supplier pair — exact decimal, so the min is portable).

    The correlated scalar subquery becomes ONE window rank over the
    per-part cost list — no re-scan per part; dims (part, supplier,
    nation, region) all broadcast; the single shuffle is the groupBy on
    (l_partkey, l_suppkey) — taken AFTER the broadcast dim joins, so it
    carries only the ~2 % of lineitem touching a qualifying part and a
    EUROPE supplier instead of the fact table (min per group commutes
    with the dim filters: they select GROUPS, not rows within a group).
    Measured r12 at sf10 (60 M lineitem): 7.6 s → 3.4 s (SCALING.md)."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")

    eu_sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        l.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(eu_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "p_partkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias("cost"))
    )
    w = Window.partitionBy("p_partkey").orderBy("cost", "s_suppkey")
    return (
        cost.withColumn("s_suppkey", F.col("l_suppkey"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.col("cost").cast("double").alias("min_cost"),
        )
        .orderBy("p_partkey")
    )


ORACLES["min_cost_supplier"] = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
ranked AS (
  SELECT p.p_partkey, eu.s_name, eu.n_name, c.cost,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY c.cost, c.l_suppkey) AS rk
  FROM cost c
  JOIN part p ON c.l_partkey = p.p_partkey
  JOIN eu ON c.l_suppkey = eu.s_suppkey
  WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20
)
SELECT p_partkey, s_name, n_name, CAST(cost AS DOUBLE) AS min_cost
FROM ranked WHERE rk = 1 ORDER BY p_partkey"""

QUERIES["min_cost_supplier"] = DriverQuery(
    q_min_cost_supplier, ORACLES["min_cost_supplier"]
)


def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by (nation, year) over a part-name family —
    revenue minus a derived unit cost (half retail price; the schema has
    no partsupp.ps_supplycost).  All money stays decimal until the final
    scalar; dims broadcast; one shuffle on the (nation, year) groupBy."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    cost = (
        F.col("l_quantity").cast("decimal(12,2)")
        * F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(0.5).cast("decimal(2,1)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(rev - cost).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLES["product_profit"] = """
SELECT n_name AS nation,
       CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                - CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(0.5 AS DECIMAL(2,1))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(l_shipdate)
ORDER BY nation, o_year DESC"""

QUERIES["product_profit"] = DriverQuery(q_product_profit, ORACLES["product_profit"])


def q_supplier_count_by_part(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers per (brand, size) for non-PROMO
    parts, EXCLUDING flagged suppliers (negative account balance stands in
    for the reference's complaints filter).  The NOT-IN subquery is a
    broadcast left-anti join on the supplier dim (100 rows — never a
    shuffle); the distinct-count shuffles (brand, size, suppkey) partials
    only."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") != "PROMO") & F.col("p_size").isin(5, 10, 15, 20, 25)
    )
    flagged = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(flagged), l.l_suppkey == flagged.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


ORACLES["supplier_count_by_part"] = """
SELECT p_brand, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND p_size IN (5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size"""

QUERIES["supplier_count_by_part"] = DriverQuery(
    q_supplier_count_by_part, ORACLES["supplier_count_by_part"]
)


def q_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped an outsized quantity of
    'small …' parts in 1996 — more than 1.5x the all-supplier mean, the
    relative-threshold flavor of Q20's "half the stock" rule, made
    scale-invariant so the filter is selective at every SF.  The
    comparison is cross-multiplied (qty·2·n > total·3) so it stays in
    exact decimal/integer arithmetic on both engines; the qualifying
    list joins broadcast (bounded by |supplier|)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_supp = (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
    )
    # per_supp feeds BOTH the totals aggregate and the qualifying filter;
    # without truncation the lineitem scan + part join + aggregate run
    # twice (once inside the broadcast subtree).  Lazy localCheckpoint
    # materializes it once — ≤|supplier| rows (r12, guide §2.4 repeated
    # subtree; same device as pretraining_mix's survivor checkpoints).
    # Block lifetime bounded as at q_top_supplier's rev checkpoint
    # (ADVICE r12): bench.py drops refs + gc.collect()s per query.
    per_supp = per_supp.localCheckpoint(eager=False)
    totals = per_supp.agg(
        F.sum("qty").alias("total_qty"), F.count(F.lit(1)).alias("n_supp")
    )
    qualifying = per_supp.crossJoin(F.broadcast(totals)).where(
        F.col("qty") * 2 * F.col("n_supp") > F.col("total_qty") * 3
    )
    return (
        s.join(F.broadcast(qualifying), s.s_suppkey == qualifying.l_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("qty").cast("double").alias("small_part_qty_1996"),
        )
        .orderBy("s_name")
    )


ORACLES["excess_suppliers"] = """
WITH per_supp AS (
  SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_suppkey
),
totals AS (
  SELECT SUM(qty) AS total_qty, count(*) AS n_supp FROM per_supp
),
qualifying AS (
  SELECT l_suppkey, qty
  FROM per_supp, totals
  WHERE qty * 2 * n_supp > total_qty * 3
)
SELECT s_name, n_name AS nation, CAST(qty AS DOUBLE) AS small_part_qty_1996
FROM supplier
JOIN qualifying ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_name"""

QUERIES["excess_suppliers"] = DriverQuery(
    q_excess_suppliers, ORACLES["excess_suppliers"]
)


def q_normalize_text(spark, sf_dir):
    """Unicode canonicalization (functions/text.normalize_text): NFC
    composition + whitespace-run collapse.  The synthetic corpus is
    ASCII-heavy, so each doc gets a deterministic decomposed suffix
    ('Cafe' + COMBINING ACUTE U+0301) planted on BOTH engines — NFC must
    compose it to U+00E9, which the value hash then verifies."""
    from tsatool_app_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(" Café  x")).alias("text")
    )
    out = normalize_text(docs)
    return out.select(
        "doc_id",
        F.col("text").alias("norm_text"),
        F.length("text").cast("long").alias("n_chars_norm"),
    ).orderBy("doc_id")


ORACLES["normalize_text"] = """
SELECT doc_id,
       nfc_normalize(trim(regexp_replace(text || ' Café  x', '\\s+', ' ', 'g'))) AS norm_text,
       CAST(length(nfc_normalize(trim(regexp_replace(text || ' Café  x', '\\s+', ' ', 'g')))) AS BIGINT) AS n_chars_norm
FROM documents
ORDER BY doc_id"""

QUERIES["normalize_text"] = DriverQuery(q_normalize_text, ORACLES["normalize_text"])


def q_embedding_gram(spark, sf_dir):
    """Distributed Gram matrix (functions/linalg.gram_matrix): per-batch
    int64 partial XᵀX via mapInPandas, ONE d²-keyed reduce — the shuffle
    carries d²·partitions cells, never the vectors.  Exact quantized
    entries hash-match DuckDB's double-unnest self-join oracle."""
    from tsatool_app_spark.functions.linalg import gram_matrix

    return gram_matrix(load_table(spark, sf_dir, "embeddings"))


ORACLES["embedding_gram"] = """
WITH ex AS (
  SELECT vec_id, i.i AS i,
         CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS i(i)
)
SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
       CAST(SUM(a.q * b.q) AS BIGINT) AS g
FROM ex a JOIN ex b USING (vec_id)
WHERE a.i <= b.i
GROUP BY 1, 2
ORDER BY i, j"""

QUERIES["embedding_gram"] = DriverQuery(q_embedding_gram, ORACLES["embedding_gram"])


def q_power_moments(spark, sf_dir):
    """Mergeable moment summary (functions/stats.power_sums): exact int64
    Σx..Σx⁴ per return flag — one map-side-combined aggregate; skew and
    kurtosis derive driver-side (stats.moments_from_sums, pytest-checked
    against numpy).  l_quantity is integral so the BIGINT cast is lossless."""
    from tsatool_app_spark.functions.stats import power_sums

    return power_sums(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", ["l_returnflag"]
    )


ORACLES["power_moments"] = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(q) AS BIGINT) AS s1,
       CAST(SUM(q * q) AS BIGINT) AS s2,
       CAST(SUM(q * q * q) AS BIGINT) AS s3,
       CAST(SUM(q * q * q * q) AS BIGINT) AS s4
FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
GROUP BY l_returnflag
ORDER BY l_returnflag"""

QUERIES["power_moments"] = DriverQuery(q_power_moments, ORACLES["power_moments"])


def q_bloom_semi_join(spark, sf_dir):
    """Runtime-filter semi-join (operators/runtime_filter.bloom_semi_join):
    lineitem rows of URGENT orders via a distributed Bloom build + scan-side
    probe + exact verify join — result identical to the plain semi-join
    (the oracle), with the fact shuffle pre-shrunk by the bloom."""
    from tsatool_app_spark.operators.runtime_filter import bloom_semi_join

    l = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(l, o, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


ORACLES["bloom_semi_join"] = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
ORDER BY l_returnflag"""

QUERIES["bloom_semi_join"] = DriverQuery(q_bloom_semi_join, ORACLES["bloom_semi_join"])


def q_incremental_minhash_dedup(spark, sf_dir):
    """Incremental near-dup probe (streaming/dedup_index.py): the even-id
    half of the corpus is the already-ingested index; the odd-id half is
    the arriving batch.  Probe = ONE equi-join of the batch's band-bucket
    keys against the index relation; candidates then verify with exact
    n-gram Jaccard.  Oracle-checkable for the minhash_pairs reason: true
    near-dup pairs sit at J ≥ 0.97 where the 64-hash/8-band miss
    probability is ~5e-6, so the verified cross-half output equals the
    exact cross-half answer DuckDB computes brute-force."""
    from tsatool_app_spark.functions.dedup import ngram_jaccard_pairs
    from tsatool_app_spark.streaming.dedup_index import band_bucket_keys, probe_index

    docs = load_table(spark, sf_dir, "documents")
    # ONE signature pass over the whole corpus, split by parity afterwards
    # — identical per-doc keys, but one scan + one groupBy instead of two
    # half-corpus pipelines (checkpointed so both branches share it).
    keys = band_bucket_keys(docs).localCheckpoint(eager=False)
    cands = probe_index(
        keys.where(F.col("doc_id") % 2 == 0), keys.where(F.col("doc_id") % 2 == 1)
    )
    return ngram_jaccard_pairs(docs, cands).where(F.col("jaccard") >= 0.85)


ORACLES["incremental_minhash_dedup"] = f"""
WITH {_NEARDUP_CHAR_85}
SELECT id_a, id_b, jaccard FROM pairs WHERE (id_a + id_b) % 2 = 1"""

QUERIES["incremental_minhash_dedup"] = DriverQuery(
    q_incremental_minhash_dedup, ORACLES["incremental_minhash_dedup"]
)


def q_snapshot_diff(spark, sf_dir):
    """Keyed snapshot diff (operators/diff.snapshot_diff): documents v1 vs
    a deterministically perturbed v2 (every 97th doc dropped, every 89th
    doc's text rewritten, clones of the first 5 docs added under new ids)
    — one full-outer join on the key + NULL-safe column compares; the
    changed-column list is array/filter Column work, no UDF.  The array
    column is flattened to a comma-joined string for the driver's
    scalar-only canonicalizer (same class of fix as array_funcs r5)."""
    from tsatool_app_spark.operators.diff import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    v2 = (
        docs.where(F.col("doc_id") % 97 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text")),
        )
        .unionByName(
            docs.orderBy("doc_id")
            .limit(5)
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source"
            )
        )
    )
    return (
        snapshot_diff(docs, v2, ["doc_id"])
        .withColumn("changed_cols", F.array_join("changed_cols", ","))
        .orderBy("doc_id")
    )


ORACLES["snapshot_diff"] = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source
  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 5)
),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         o.doc_id IS NOT NULL AS in_old, n.doc_id IS NOT NULL AS in_new,
         list_filter(
           [CASE WHEN o.text IS DISTINCT FROM n.text THEN 'text' END,
            CASE WHEN o.lang IS DISTINCT FROM n.lang THEN 'lang' END,
            CASE WHEN o.source IS DISTINCT FROM n.source THEN 'source' END],
           x -> x IS NOT NULL) AS diffs
  FROM documents o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
)
SELECT doc_id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN len(diffs) > 0 THEN 'changed' END AS change,
       CASE WHEN in_old AND in_new AND len(diffs) > 0
            THEN array_to_string(diffs, ',')
            ELSE '' END AS changed_cols
FROM j
WHERE (NOT in_old) OR (NOT in_new) OR len(diffs) > 0
ORDER BY doc_id"""

QUERIES["snapshot_diff"] = DriverQuery(q_snapshot_diff, ORACLES["snapshot_diff"])


def q_kfold_split(spark, sf_dir):
    """Leakage-aware k-fold assignment (functions/sampling.kfold_assign):
    fold key is the duplicate CLUSTER where one exists (planted here as a
    deterministic relation so the oracle can mirror it: every 7th doc
    belongs to cluster floor(id/50)·50), id otherwise — md5-bucket mod k,
    stable across engines/repartitions/reruns."""
    from tsatool_app_spark.functions.sampling import kfold_assign

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    comps = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("node"),
        (F.floor(F.col("doc_id") / 50) * 50).cast("long").alias("component"),
    )
    return kfold_assign(docs, comps, k=5).orderBy("doc_id")


ORACLES["kfold_split"] = """
WITH comps AS (
  SELECT doc_id AS node, CAST(floor(doc_id / 50) * 50 AS BIGINT) AS component
  FROM documents WHERE doc_id % 7 = 0
),
keyed AS (
  SELECT d.doc_id, d.lang, COALESCE(c.component, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comps c ON d.doc_id = c.node
)
SELECT doc_id, lang,
       CAST((('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4))::INT % 997) % 5 AS INT) AS fold
FROM keyed ORDER BY doc_id"""

QUERIES["kfold_split"] = DriverQuery(q_kfold_split, ORACLES["kfold_split"])


def q_class_balance(spark, sf_dir):
    """Label-skew report (functions/profile.class_balance): exact counts
    from one aggregate; share and Gini terms are per-row float at the
    |classes| edge (entropy terms exist in the library too, but log2's
    last-ulp is libm-dependent, so the cross-engine query pins the
    rational columns and pytest checks entropy against numpy)."""
    from tsatool_app_spark.functions.profile import class_balance

    return class_balance(
        load_table(spark, sf_dir, "documents"), "lang"
    ).select("label", "n", "share", "gini_term")


ORACLES["class_balance"] = """
WITH c AS (
  SELECT lang AS label, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT label, n,
       n / CAST(total AS DOUBLE) AS share,
       (n / CAST(total AS DOUBLE)) * (1 - n / CAST(total AS DOUBLE)) AS gini_term
FROM c, t ORDER BY label"""

QUERIES["class_balance"] = DriverQuery(q_class_balance, ORACLES["class_balance"])


def q_table_checksum(spark, sf_dir):
    """Order-independent migration checksum (functions/profile.
    table_checksum): per return flag, Σ int32(md5(row text)) over key
    columns + a DECIMAL-rendered price — engine-portable because every
    hashed byte is a text rendering both engines produce identically."""
    from tsatool_app_spark.functions.profile import table_checksum

    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "price2", F.col("l_extendedprice").cast("decimal(12,2)")
    )
    return table_checksum(
        l,
        ["l_orderkey", "l_linenumber", "l_returnflag", "price2"],
        ["l_returnflag"],
    )


ORACLES["table_checksum"] = """
SELECT l_returnflag,
       CAST(SUM(('0x' || substring(md5(
         COALESCE(CAST(l_orderkey AS VARCHAR), chr(0) || 'NULL') || chr(31) ||
         COALESCE(CAST(l_linenumber AS VARCHAR), chr(0) || 'NULL') || chr(31) ||
         COALESCE(CAST(l_returnflag AS VARCHAR), chr(0) || 'NULL') || chr(31) ||
         COALESCE(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR), chr(0) || 'NULL')
       ), 1, 8))::BIGINT) AS BIGINT) AS checksum,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag"""

QUERIES["table_checksum"] = DriverQuery(q_table_checksum, ORACLES["table_checksum"])


def q_strip_markup(spark, sf_dir):
    """Markup stripping (functions/text.strip_markup): the corpus is
    plain text, so tags + entities are planted deterministically on both
    engines; the hash then verifies tag removal, entity decode, and
    whitespace collapse byte-for-byte."""
    from tsatool_app_spark.functions.text import strip_markup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<p class=\"x\">"), F.col("text"),
            F.lit("</p> &amp; <b>bold</b>&nbsp;end"),
        ).alias("text"),
    )
    return strip_markup(docs).select(
        "doc_id", F.col("text").alias("clean"), F.length("text").cast("long").alias("n")
    ).orderBy("doc_id")


ORACLES["strip_markup"] = """
WITH planted AS (
  SELECT doc_id,
         '<p class="x">' || text || '</p> &amp; <b>bold</b>&nbsp;end' AS t
  FROM documents
),
stripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(t, '<[^>]+>', ' ', 'g'),
             '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '),
           '\\s+', ' ', 'g')) AS clean
  FROM planted
)
SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n
FROM stripped ORDER BY doc_id"""

QUERIES["strip_markup"] = DriverQuery(q_strip_markup, ORACLES["strip_markup"])


def q_fd_violations(spark, sf_dir):
    """FD checker (functions/quality_gate.fd_violations): o_orderkey →
    o_custkey HOLDS on the clean orders table (primary key), so both
    engines plant the same conflicting copy of the minimum order (same
    key, custkey+1) — the check must report exactly that key and
    nothing else."""
    from tsatool_app_spark.functions.quality_gate import fd_violations

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    first = (
        o.orderBy("o_orderkey")
        .limit(1)
        .select("o_orderkey", (F.col("o_custkey") + 1).alias("o_custkey"))
    )
    return fd_violations(o.unionByName(first), ["o_orderkey"], ["o_custkey"])


ORACLES["fd_violations"] = """
WITH o AS (SELECT o_orderkey, o_custkey FROM orders),
planted AS (
  SELECT o_orderkey, o_custkey + 1 AS o_custkey
  FROM o ORDER BY o_orderkey LIMIT 1
),
u AS (SELECT * FROM o UNION ALL SELECT * FROM planted)
SELECT o_orderkey,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_rhs_variants,
       CAST(count(*) AS BIGINT) AS n_rows
FROM u
GROUP BY o_orderkey
HAVING count(DISTINCT o_custkey) > 1
ORDER BY o_orderkey"""

QUERIES["fd_violations"] = DriverQuery(q_fd_violations, ORACLES["fd_violations"])


def q_dup_rate(spark, sf_dir):
    """Corpus duplication summary (the report every dedup run opens
    with): documents vs distinct texts vs exact-duplicate rows, from the
    md5 grouping of functions/dedup.exact_dedup_groups — one scan, one
    16-byte-key aggregate, one-row rollup."""
    from tsatool_app_spark.functions.dedup import exact_dedup_groups

    groups = exact_dedup_groups(load_table(spark, sf_dir, "documents"))
    return groups.agg(
        F.sum("n_copies").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_texts"),
        (F.sum("n_copies") - F.count(F.lit(1))).cast("long").alias("n_dup_rows"),
        (
            (F.sum("n_copies") - F.count(F.lit(1)))
            / F.sum("n_copies").cast("double")
        ).alias("dup_rate"),
    )


ORACLES["dup_rate"] = """
WITH g AS (
  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies
  FROM documents GROUP BY 1
)
SELECT CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_distinct_texts,
       CAST(SUM(n_copies) - count(*) AS BIGINT) AS n_dup_rows,
       (SUM(n_copies) - count(*)) / CAST(SUM(n_copies) AS DOUBLE) AS dup_rate
FROM g"""

QUERIES["dup_rate"] = DriverQuery(q_dup_rate, ORACLES["dup_rate"])


def q_ivm_join_view(spark, sf_dir):
    """Incremental join-view maintenance (operators/incremental.
    maintain_join_view): the customer⋈orders view is built by folding two
    insert-only delta rounds through Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB —
    never by joining the full bases — and the oracle is the plain join:
    their equality IS the delta rule's correctness, hash-checked."""
    from tsatool_app_spark.operators.incremental import maintain_join_view

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    c0, dc1 = c.where(F.col("c_custkey") % 2 == 0), c.where(F.col("c_custkey") % 2 == 1)
    o0, do1 = o.where(F.col("o_orderkey") % 3 == 0), o.where(F.col("o_orderkey") % 3 != 0)

    view = maintain_join_view(None, None, c0, None, o0, ["c_custkey"])
    view = maintain_join_view(view, c0, dc1, o0, do1, ["c_custkey"])
    return view.select("c_custkey", "o_orderkey", "c_name", "o_totalprice").orderBy(
        "c_custkey", "o_orderkey"
    )


ORACLES["ivm_join_view"] = """
SELECT c_custkey, o_orderkey, c_name, o_totalprice
FROM customer JOIN orders ON c_custkey = o_custkey
ORDER BY c_custkey, o_orderkey"""

QUERIES["ivm_join_view"] = DriverQuery(q_ivm_join_view, ORACLES["ivm_join_view"])


def q_zorder3_key(spark, sf_dir):
    """3-dimensional Morton key (operators/layout.zorder_key_n) over
    (suppkey, partkey-low-bits, month) — the n-dim clustering key for
    layouts filtered on three axes; SQL oracle generated from the same
    loop as the Column expression so the interleave cannot drift."""
    from tsatool_app_spark.operators.layout import zorder_key_n

    l = load_table(spark, sf_dir, "lineitem")
    key = zorder_key_n(
        [F.col("l_suppkey"), F.col("l_partkey"), F.month("l_shipdate")], bits=10
    )
    return (
        l.select(F.col("l_orderkey"), F.col("l_linenumber"), key.alias("z3"))
        # (orderkey, linenumber) is NOT unique in the synthetic data (see
        # fd_violations) — z3 makes the sort total so the LIMIT boundary
        # is engine-deterministic
        .orderBy("l_orderkey", "l_linenumber", "z3")
        .limit(5000)
    )


def _zorder3_oracle() -> str:
    from tsatool_app_spark.operators.layout import zorder_sql_n

    z = zorder_sql_n(["l_suppkey", "l_partkey", "month(l_shipdate)"], bits=10)
    return f"""
SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS z3
FROM lineitem
ORDER BY l_orderkey, l_linenumber, z3
LIMIT 5000"""


ORACLES["zorder3_key"] = _zorder3_oracle()

QUERIES["zorder3_key"] = DriverQuery(q_zorder3_key, ORACLES["zorder3_key"])


def q_active_intervals(spark, sf_dir):
    """Interval concurrency curve (operators/intervals.concurrency_curve):
    how many of block A/B/C's TRUE ranges are simultaneously active at
    each boundary — the sweep-line +1/−1 prefix sum (one explode + one
    aggregate + one ordered window; the naive form is a quadratic
    theta-join).  Oracle mirrors with a window SUM over net deltas."""
    from tsatool_app_spark.operators.intervals import concurrency_curve

    blocks = [
        _block_df(spark, sf_dir, b).where(F.col("istrue"))
        for b in (_BLOCK_A, _BLOCK_B, _BLOCK_C)
    ]
    ivs = blocks[0].unionByName(blocks[1]).unionByName(blocks[2]).select(
        "vfrom", "vuntil"
    )
    return concurrency_curve(ivs)


ORACLES["active_intervals"] = f"""
WITH {_pack_sql_cte('pa', _BLOCK_A)},
{_pack_sql_cte('pb', _BLOCK_B)},
{_pack_sql_cte('pc', _BLOCK_C)},
blocks AS (
  SELECT vfrom, vuntil FROM pa WHERE istrue
  UNION ALL SELECT vfrom, vuntil FROM pb WHERE istrue
  UNION ALL SELECT vfrom, vuntil FROM pc WHERE istrue
),
ev AS (
  SELECT vfrom AS t, 1 AS delta FROM blocks
  UNION ALL
  SELECT vuntil AS t, -1 AS delta FROM blocks
),
net AS (SELECT t, SUM(delta) AS d FROM ev GROUP BY t)
SELECT t, CAST(SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_active
FROM net ORDER BY t"""

QUERIES["active_intervals"] = DriverQuery(
    q_active_intervals, ORACLES["active_intervals"]
)


def q_source_vocab_overlap(spark, sf_dir):
    """Corpus-comparison report: for every pair of sources, how many
    distinct lowercase terms they share.  distinct (source, term) →
    self-join on term with source_a < source_b → count per pair: the
    shuffle carries (source, term) pairs once, and the join fan-out is
    bounded by |sources| per term."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source",
            F.explode(
                F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
            ).alias("term"),
        )
        .distinct()
    )
    a = vocab.alias("a")
    b = vocab.alias("b")
    return (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_terms"))
        .orderBy("source_a", "source_b")
    )


ORACLES["source_vocab_overlap"] = """
WITH vocab AS (
  SELECT DISTINCT source, t.t AS term
  FROM documents,
       unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t(t)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_terms
FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
GROUP BY 1, 2
ORDER BY source_a, source_b"""

QUERIES["source_vocab_overlap"] = DriverQuery(
    q_source_vocab_overlap, ORACLES["source_vocab_overlap"]
)


def q_simhash_pairs(spark, sf_dir):
    """Hamming-neighbor SimHash dedup (functions/dedup.
    simhash_near_dup_pairs): Manku-style COMBINATION block probing over
    the PORTABLE md5 signatures — 56-bit signatures split into 6 blocks,
    one probe table per 3-block combination (C(6,3)=20, ~28-bit keys —
    wide enough that bucket sizes fall as n/2²⁸ at corpus scale),
    popcount verify, capped + audited buckets.  The oracle brute-forces
    all pairs from the same signature CTE, so the probe's COMPLETENESS
    is what the hash-check certifies.  The pipeline dedups exact-duplicate
    texts FIRST and signs/probes one representative per distinct text
    (functions/dedup.simhash_pairs_dedup_first) — a signature is a pure
    function of the text, so the output is identical to the raw-corpus
    pipeline (pinned by test) and clone mega-buckets never reach the
    probe-table cap."""
    from tsatool_app_spark.functions.dedup import simhash_pairs_dedup_first

    return simhash_pairs_dedup_first(
        load_table(spark, sf_dir, "documents"),
        bits=56, shingle_k=3, portable=True, max_hamming=3, n_blocks=6,
    ).orderBy("id_a", "id_b")


ORACLES["simhash_pairs"] = f"""
WITH sigs AS ({_simhash_md5_oracle_sql(56, 3).strip().rstrip()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b"""

QUERIES["simhash_pairs"] = DriverQuery(q_simhash_pairs, ORACLES["simhash_pairs"])


def q_winsorized_stats(spark, sf_dir):
    """Winsorized aggregates: clip order totals at the exact P05/P95
    (percentile_disc bounds from one aggregate, broadcast back), then
    decimal-exact sums — the robust-stats companion to iqr_outliers.
    Clipping bounds are data-derived yet deterministic, so the oracle
    reproduces them exactly."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)").alias("hi"),
    )
    clipped = o.crossJoin(F.broadcast(bounds)).select(
        "o_orderpriority",
        F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")).alias("w"),
    )
    return (
        clipped.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("w").cast("decimal(14,2)")).cast("double").alias("wsum"),
        )
        .orderBy("o_orderpriority")
    )


ORACLES["winsorized_stats"] = """
WITH bounds AS (
  SELECT percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice) AS lo,
         percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS hi
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(least(greatest(o_totalprice, lo), hi) AS DECIMAL(14,2))) AS DOUBLE) AS wsum
FROM orders, bounds
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""

QUERIES["winsorized_stats"] = DriverQuery(
    q_winsorized_stats, ORACLES["winsorized_stats"]
)


def q_rolling_corr(spark, sf_dir):
    """Rolling pairwise moments (operators/timeseries.rolling_corr_sums):
    per-supplier trailing-20-line exact sums of (quantity, extendedprice)
    — five window sums sharing one sort, decimal until the final cast.
    order key (orderkey, linenumber) made total with quantity to keep the
    window frame engine-deterministic under duplicate line numbers."""
    from tsatool_app_spark.operators.timeseries import rolling_corr_sums

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.concat_ws(
            "-",
            F.lpad(F.col("l_orderkey").cast("string"), 10, "0"),
            F.lpad(F.col("l_linenumber").cast("string"), 4, "0"),
            F.lpad(F.col("l_quantity").cast("int").cast("string"), 4, "0"),
            F.lpad((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").cast("string"), 12, "0"),
        ).alias("ord"),
        "l_quantity",
        "l_extendedprice",
    ).where(F.col("l_suppkey") <= 10)
    return rolling_corr_sums(
        l, "l_suppkey", "ord", "l_quantity", "l_extendedprice", window_rows=20
    ).orderBy("l_suppkey", "ord")


ORACLES["rolling_corr"] = """
WITH l AS (
  SELECT l_suppkey,
         lpad(CAST(l_orderkey AS VARCHAR), 10, '0') || '-' ||
         lpad(CAST(l_linenumber AS VARCHAR), 4, '0') || '-' ||
         lpad(CAST(CAST(l_quantity AS INT) AS VARCHAR), 4, '0') || '-' ||
         lpad(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS VARCHAR), 12, '0') AS ord,
         CAST(l_quantity AS DECIMAL(18,2)) AS dx,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS dy
  FROM lineitem WHERE l_suppkey <= 10
)
SELECT l_suppkey, ord,
       CAST(count(*) OVER w AS BIGINT) AS n_w,
       CAST(SUM(dx) OVER w AS DOUBLE) AS sum_x,
       CAST(SUM(dy) OVER w AS DOUBLE) AS sum_y,
       CAST(SUM(dx * dy) OVER w AS DOUBLE) AS sum_xy,
       CAST(SUM(dx * dx) OVER w AS DOUBLE) AS sum_xx,
       CAST(SUM(dy * dy) OVER w AS DOUBLE) AS sum_yy
FROM l
WINDOW w AS (PARTITION BY l_suppkey ORDER BY ord ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
ORDER BY l_suppkey, ord"""

QUERIES["rolling_corr"] = DriverQuery(q_rolling_corr, ORACLES["rolling_corr"])


def q_grouped_topk(spark, sf_dir):
    """Map-side-pruned per-group top-k (operators/olap.
    grouped_topk_pruned): top-3 lines by price per supplier — stage 1
    prunes each partition to its local top-3 per supplier (no shuffle),
    the exact window ranks survivors only.  The order
    (price desc, orderkey, linenumber) is total over the emitted
    columns, so boundary ties cannot change the output set."""
    from tsatool_app_spark.operators.olap import grouped_topk_pruned

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return grouped_topk_pruned(
        l,
        ["l_suppkey"],
        [("l_extendedprice", True), ("l_orderkey", False), ("l_linenumber", False)],
        3,
    ).orderBy("l_suppkey", "rank")


ORACLES["grouped_topk"] = """
SELECT l_suppkey, l_extendedprice, l_orderkey, l_linenumber,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT l_suppkey, l_extendedprice, l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem
)
WHERE rk <= 3
ORDER BY l_suppkey, rank"""

QUERIES["grouped_topk"] = DriverQuery(q_grouped_topk, ORACLES["grouped_topk"])


def q_ngram_containment(spark, sf_dir):
    """Asymmetric containment (functions/dedup.ngram_containment_pairs):
    each doc paired with a planted EXCERPT of itself (its first 120
    chars, ids shifted) — containment ≈ 1 while Jaccard is diluted, the
    quote-detection case.  Oracle recomputes |A∩B| / min set size on the
    same pairs brute-force."""
    from tsatool_app_spark.functions.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    excerpts = docs.select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.substring("text", 1, 120).alias("text"),
        "lang",
        "source",
        F.length(F.substring("text", 1, 120)).alias("n_chars"),
    )
    corpus = docs.unionByName(excerpts)
    pairs = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 5000000).alias("id_b"),
    )
    return ngram_containment_pairs(corpus, pairs).orderBy("id_a")


ORACLES["ngram_containment"] = """
WITH full_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 50
),
corpus AS (
  SELECT doc_id, text FROM full_docs
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text[1:120] AS text FROM full_docs
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                                      i -> text[i:i+4])) AS s
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
       CAST(least(len(a.s), len(b.s)) AS BIGINT) AS n_smaller,
       len(list_intersect(a.s, b.s)) / least(len(a.s), len(b.s)) AS containment
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 5000000
ORDER BY id_a"""

QUERIES["ngram_containment"] = DriverQuery(
    q_ngram_containment, ORACLES["ngram_containment"]
)


def q_value_quantiles_by_type(spark, sf_dir):
    """Grouped multi-quantile profile: exact P25/P50/P75/P95 of event
    values per event type in ONE aggregate (four percentile_disc over a
    shared sort) — the per-segment latency/size profile shape."""
    ev = load_table(spark, sf_dir, "events")
    qs = [
        F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
        ).alias(f"p{int(q * 100)}")
        for q in (0.25, 0.5, 0.75, 0.95)
    ]
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), *qs)
        .orderBy("event_type")
    )


ORACLES["value_quantiles_by_type"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
       percentile_disc(0.50) WITHIN GROUP (ORDER BY value) AS p50,
       percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS p75,
       percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95
FROM events
GROUP BY event_type
ORDER BY event_type"""

QUERIES["value_quantiles_by_type"] = DriverQuery(
    q_value_quantiles_by_type, ORACLES["value_quantiles_by_type"]
)


def q_token_budget_mixture(spark, sf_dir):
    """Budgeted corpus mixture (functions/sampling.token_budget_mixture):
    per-source keep-rates DERIVED from a token budget against the actual
    per-source token supply — all-integer rate quantization (basis
    points), deterministic md5-bucket membership.  One tiny aggregate +
    broadcast join + scan-speed filter: the corpus never shuffles."""
    from tsatool_app_spark.functions.sampling import token_budget_mixture

    docs = load_table(spark, sf_dir, "documents")
    out = token_budget_mixture(
        docs,
        {"src0": 3_000, "src1": 20_000, "src2": 800},
        source_col="source",
        token_col="n_chars",
        id_col="doc_id",
    )
    return out.select("doc_id", "source", "rate_q").orderBy("doc_id")


ORACLES["token_budget_mixture"] = """
WITH avail AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS a FROM documents GROUP BY source
),
rates AS (
  SELECT source,
         LEAST(10000, (CASE source
                         WHEN 'src0' THEN 3000
                         WHEN 'src1' THEN 20000
                         WHEN 'src2' THEN 800
                       END) * 10000 // a) AS rate_q
  FROM avail
  WHERE source IN ('src0', 'src1', 'src2')
)
SELECT d.doc_id, d.source, r.rate_q
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT % 10000
      < r.rate_q
ORDER BY d.doc_id"""

QUERIES["token_budget_mixture"] = DriverQuery(
    q_token_budget_mixture, ORACLES["token_budget_mixture"]
)


def q_dup_spans(spark, sf_dir):
    """Content-defined duplicated-span pairs (functions/spans.py — the
    MOSS/winnowing exact-substring family): every 40-char window whose
    md5's last hex digit is < '2' is a fingerprint; documents sharing a
    fingerprint share that exact substring, at ANY offset.  Two planted
    composites pin the semantics: 9000001 is a full copy of the lowest-id
    restricted doc (shares all its fingerprints) and 9000002 embeds a
    160-char slice of it at a shifted offset behind a novel prefix — the
    offset-independence grid sampling cannot give.  Corpus restricted to
    doc_id % 10 == 0 (like embedding_near_dups) so the oracle's per-
    position hashing stays inside the DuckDB budget at every tier.  The
    md5-hex construction is byte-identical across engines (verified
    against hashlib in test_span_fingerprints_offset_independent), so
    the approximate-free output hash-matches the oracle exactly."""
    from tsatool_app_spark.functions.spans import duplicated_span_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    base = docs.orderBy("doc_id").limit(1)
    p1 = base.select(F.lit(9_000_001).cast("long").alias("doc_id"), F.col("text"))
    p2 = base.select(
        F.lit(9_000_002).cast("long").alias("doc_id"),
        F.concat(
            F.lit("Q "), F.substring("text", 11, 160), F.lit(" trailing-filler-xyz")
        ).alias("text"),
    )
    corpus = docs.unionByName(p1).unionByName(p2)
    return duplicated_span_pairs(corpus, window_len=40)


ORACLES["dup_spans"] = """
WITH base AS (
  SELECT text FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id LIMIT 1
), corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT 9000001, text FROM base
  UNION ALL SELECT 9000002,
    'Q ' || substring(text, 11, 160) || ' trailing-filler-xyz' FROM base
), fps AS (
  SELECT DISTINCT doc_id, w.fp AS fp FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM corpus) t
), ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 256
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN ok USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2"""

QUERIES["dup_spans"] = DriverQuery(q_dup_spans, ORACLES["dup_spans"])


def q_dup_spans_arrow(spark, sf_dir):
    """The SAME duplicated-span query as q_dup_spans but through the
    production ``impl="arrow"`` path (mapInPandas/hashlib instead of
    Column expressions — functions/spans.py:_span_fingerprints_arrow).
    Both impls compute the identical md5 selection rule, so this shares
    q_dup_spans' DuckDB oracle verbatim: a green row here is driver-level
    certification that the 11×-faster bulk path is byte-identical to the
    certified one (unit pin:
    tests/test_functions.py::test_span_fingerprints_impls_identical;
    sf10-scale pin: scripts/rehearsal_sf10_spans.py anti-join 0/0 over
    35M (doc, fp) rows)."""
    from tsatool_app_spark.functions.spans import duplicated_span_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    base = docs.orderBy("doc_id").limit(1)
    p1 = base.select(F.lit(9_000_001).cast("long").alias("doc_id"), F.col("text"))
    p2 = base.select(
        F.lit(9_000_002).cast("long").alias("doc_id"),
        F.concat(
            F.lit("Q "), F.substring("text", 11, 160), F.lit(" trailing-filler-xyz")
        ).alias("text"),
    )
    corpus = docs.unionByName(p1).unionByName(p2)
    return duplicated_span_pairs(corpus, window_len=40, impl="arrow")


QUERIES["dup_spans_arrow"] = DriverQuery(q_dup_spans_arrow, ORACLES["dup_spans"])


def q_dup_span_sites(spark, sf_dir):
    """Span-contamination LOCALIZATION (functions/spans.py
    duplicated_span_sites): the exact (pos_a, pos_b) window positions at
    which document pairs share a byte-identical 40-char span — the
    drill-down of dup_spans (WHICH pairs → WHERE in each text).  Same
    planted composites as dup_spans: 9000001 duplicates the lowest-id
    restricted doc at offset 0 (sites with pos_a == pos_b), 9000002
    embeds a 160-char slice at a SHIFTED offset (sites with a constant
    nonzero pos delta — the offset-independence payoff made visible).
    Corpus restricted to doc_id % 50 == 0: sites are per-position rows,
    so the oracle's output volume is kept tier-bounded.  The r9 position
    cap (max_sites_per_doc_fp=64, the function default; oracle QUALIFY
    row_number <= 64) bounds the periodic-text fan-out edge — inert on
    this corpus (no (doc, fp) nears 64 sites), exercised by the planted
    periodic-text test in tests/test_functions.py."""
    from tsatool_app_spark.functions.spans import duplicated_span_sites

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id", "text")
    )
    base = docs.orderBy("doc_id").limit(1)
    p1 = base.select(F.lit(9_000_001).cast("long").alias("doc_id"), F.col("text"))
    p2 = base.select(
        F.lit(9_000_002).cast("long").alias("doc_id"),
        F.concat(
            F.lit("Q "), F.substring("text", 11, 160), F.lit(" trailing-filler-xyz")
        ).alias("text"),
    )
    corpus = docs.unionByName(p1).unionByName(p2)
    return duplicated_span_sites(corpus, window_len=40)


ORACLES["dup_span_sites"] = """
WITH base AS (
  SELECT text FROM documents WHERE doc_id % 50 = 0 ORDER BY doc_id LIMIT 1
), corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL SELECT 9000001, text FROM base
  UNION ALL SELECT 9000002,
    'Q ' || substring(text, 11, 160) || ' trailing-filler-xyz' FROM base
), fps AS (
  SELECT doc_id, w.pos AS pos, w.fp AS fp FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM corpus) t
), ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 256
), kept AS (
  SELECT f.doc_id, f.pos, f.fp FROM fps f JOIN ok USING (fp)
  QUALIFY row_number() OVER (PARTITION BY f.doc_id, f.fp ORDER BY f.pos) <= 64
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.pos AS pos_a, b.pos AS pos_b, a.fp AS fp
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
ORDER BY 1, 2, 3, 4"""

QUERIES["dup_span_sites"] = DriverQuery(q_dup_span_sites, ORACLES["dup_span_sites"])


def q_span_decontaminate(spark, sf_dir):
    """Span-level benchmark decontamination (functions/spans.py
    span_contamination_hits): training docs carrying any selected 40-char
    window of the benchmark set — the exact-substring complement of the
    word-n-gram `decontaminate` query (verbatim reuse survives
    tokenization changes that break n-gram overlap).  Benchmark fps are
    BROADCAST (small side); train restricted to doc_id % 10 == 0 like
    dup_spans so the oracle's per-position hashing stays tier-bounded.
    Planted composite 9000003 embeds a 160-char slice of the lowest-id
    benchmark doc at a shifted offset behind a novel prefix — a
    guaranteed cross-set hit that n-gram-aligned sampling could miss;
    doc 0 sits in BOTH sets (0 % 10 = 0 % 97 = 0), pinning the self-hit
    semantics."""
    from tsatool_app_spark.functions.spans import span_contamination_hits

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    lowest = bench.orderBy("doc_id").limit(1)
    planted = lowest.select(
        F.lit(9_000_003).cast("long").alias("doc_id"),
        F.concat(
            F.lit("Z "), F.substring("text", 11, 160), F.lit(" novel-tail-abc")
        ).alias("text"),
    )
    train = docs.where(F.col("doc_id") % 10 == 0).unionByName(planted)
    return span_contamination_hits(train, bench).orderBy("doc_id")


ORACLES["span_decontaminate"] = """
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
), lowest AS (
  SELECT text FROM bench ORDER BY doc_id LIMIT 1
), train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT 9000003,
    'Z ' || substring(text, 11, 160) || ' novel-tail-abc' FROM lowest
), bfps AS (
  SELECT DISTINCT w.fp AS fp FROM (
    SELECT unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM bench) t
), tfps AS (
  SELECT DISTINCT doc_id, w.fp AS fp FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM train) t
)
SELECT t.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM tfps t JOIN bfps b ON t.fp = b.fp
GROUP BY 1 ORDER BY 1"""

QUERIES["span_decontaminate"] = DriverQuery(
    q_span_decontaminate, ORACLES["span_decontaminate"]
)


def q_span_decontaminate_arrow(spark, sf_dir):
    """span_decontaminate's PRODUCTION twin (the dup_spans /
    dup_spans_arrow pattern, r12): identical fixture and output, but the
    per-position window hashing runs through the mapInPandas/hashlib
    arrow path instead of the oracle-mirrored Column-expression chain —
    Catalyst higher-order-function lambdas are interpreted (~14 µs per
    element, r8 measurement), so at the sf10 extended board the sql row
    pays 8.0 s where this path is the one a pipeline should call.  Rows
    byte-identical to the sql impl by
    test_span_fingerprints_impls_identical; the oracle string is the
    same literal SQL."""
    from tsatool_app_spark.functions.spans import span_contamination_hits

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    lowest = bench.orderBy("doc_id").limit(1)
    planted = lowest.select(
        F.lit(9_000_003).cast("long").alias("doc_id"),
        F.concat(
            F.lit("Z "), F.substring("text", 11, 160), F.lit(" novel-tail-abc")
        ).alias("text"),
    )
    train = docs.where(F.col("doc_id") % 10 == 0).unionByName(planted)
    return span_contamination_hits(train, bench, impl="arrow").orderBy(
        "doc_id"
    )


ORACLES["span_decontaminate_arrow"] = ORACLES["span_decontaminate"]
QUERIES["span_decontaminate_arrow"] = DriverQuery(
    q_span_decontaminate_arrow, ORACLES["span_decontaminate_arrow"]
)


def q_pretraining_mix(spark, sf_dir):
    """The WHOLE pretraining pipeline as ONE certified artifact (r8
    VERDICT ask #7, functions/corpus.pretraining_mix): clean →
    exact-dedup → near-dup survivorship → n-gram + span benchmark
    decontamination → token-budget mixture → sequence packing.  Every
    stage is separately oracle-certified; this row certifies the SEAMS —
    the id/schema contracts between stages.

    Corpus: doc_id % 10 == 0 (keeps the oracle's span hashing and
    near-dup candidate search tier-bounded, the span_decontaminate
    convention) plus four planted composites that force each early stage
    to DROP something: 9000010 = exact clone of the seed doc (lowest-id
    non-benchmark corpus doc — dies at exact-dedup), 9000020 = seed text
    + '!' (char-5-gram J ≈ 0.98 near-dup of the seed — dies at near-dup
    survivorship), 9000030 = a 24-word slice of the lowest benchmark doc
    (shares word 8-grams — dies at decontamination), 9000040 = a
    160-char slice of the same at a shifted offset (guaranteed span hit
    — dies at decontamination).  Benchmark = doc_id % 97 == 0 over the
    FULL table.  The %10 corpus carries exactly two sources (source is
    keyed off doc_id), so the budgets cover both with src0 BINDING
    (rate_q < 10000) and src10 loose (rate_q = 10000); packing uses 4
    shards so the small-tier bins actually fill past 0."""
    from tsatool_app_spark.functions.corpus import pretraining_mix

    corpus, bench = _pretrain_corpus(spark, sf_dir)
    return _in_doc_id_order(
        pretraining_mix(corpus, bench, {"src0": 2_000, "src10": 50_000}, n_shards=4)
    )


def _in_doc_id_order(df):
    """``df`` in ``doc_id`` order, computed once.  ``orderBy``'s range
    sort samples its input in one job and shuffles it in the next, which
    runs the pipeline's Python packing stage twice; the rows all go to
    the collecting driver anyway, so one partition sorts them."""
    return df.repartition(1).sortWithinPartitions("doc_id")


# p5's English wrapper: long enough for the quality length band, carries
# stopword markers for the lang gate, and abuts the embedded window with
# NO space on either side so the boundary tokens merge and any intact
# shared word run stays under ngram_n.
_P5_PREFIX = "the document ninetyfour quotes a benchmark window verbatim here Q5"
_P5_SUFFIX = "tail5 and then it ends with a tidy period."


def _pretrain_corpus(spark, sf_dir):
    """The pretraining-pipeline test corpus shared by `pretraining_mix`
    and `pretraining_mix_excise`: the %10 slice plus the four planted
    composites described in q_pretraining_mix, and the %97 benchmark.

    The two seed texts are collected up front (two limit-1 rows — a
    driver-sized seam, same device as q_embedding_near_dups' planted
    clones) and the five planted docs derive from 1-row LOCAL relations
    with the ORIGINAL column expressions: r12's plan carried five
    TakeOrdered subplans over the documents scan into the input
    checkpoint, each costing its own AQE subquery jobs at bench tiers
    and a redundant scan at scale (r13 census: the fixture subplans were
    ~8 of pretraining_mix's 63 jobs).  Planted row VALUES are identical
    by construction — the same expressions over the same seed texts."""
    from tsatool_app_spark.functions.corpus import _tokens_sql
    from tsatool_app_spark.functions.text import _sql_str

    # The plan pieces below are SQL text: one py4j round trip each, where
    # the Column API calls made one per expression node (~280 per call).
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where("doc_id % 10 = 0").select(
        "doc_id", "text", "source", "n_chars"
    )
    bench = docs.where("doc_id % 97 = 0")
    # BOTH seed texts from ONE map-side-combined pass: min_by(text,
    # CASE WHEN cond THEN doc_id END) is exactly orderBy(doc_id).limit(1)
    # per condition (doc_id unique; NULL ordering keys are ignored), and
    # the two r12 TakeOrdered collects each re-scanned documents — 4.0 s
    # of the sf10 wall per invocation, measured.
    seeds = docs.selectExpr(
        "min_by(text, CASE WHEN doc_id % 10 = 0 AND doc_id % 97 != 0"
        " THEN doc_id END) AS seed_text",
        "min_by(text, CASE WHEN doc_id % 97 = 0 THEN doc_id END) AS blow_text",
    ).collect()[0]

    def one_row_text(text):
        # JVM-side literal relation, NOT createDataFrame: parallelized
        # local data is a Python-RDD-backed plan, so every action over a
        # frame derived from it pays a Python-worker round trip per
        # partition (measured: 4.8 s per count for a ONE-ROW frame at 32
        # partitions vs 0.24 s for range(1)+lit) and defaultParallelism
        # empty partitions ride into every downstream union.
        # range(..., numPartitions=1): both createDataFrame AND a bare
        # range(n) split even a 1-row relation across defaultParallelism
        # partitions, ballooning every downstream union/checkpoint pass
        # to 160+ near-empty tasks.  NULL text (no row satisfied the
        # condition) -> empty relation, matching the old limit(1) frame.
        n = 0 if text is None else 1
        one = spark.range(0, n, 1, 1)
        return one.select(F.lit(text if text is not None else "").alias("text"))

    seed = one_row_text(seeds.seed_text)
    blow = one_row_text(seeds.blow_text)
    toks = _tokens_sql("text")

    def planted(src, doc_id, text_sql):
        return src.selectExpr(f"{text_sql} AS text").selectExpr(
            f"CAST({doc_id} AS BIGINT) AS doc_id",
            "text",
            "'src0' AS source",
            "CAST(length(text) AS BIGINT) AS n_chars",
        )

    p1 = planted(seed, 9_000_010, "text")
    p2 = planted(seed, 9_000_020, "concat(text, '!')")
    p3 = planted(
        blow,
        9_000_030,
        f"concat('N3 ', array_join(slice({toks}, 3, 24), ' '), ' tail3')",
    )
    p4 = planted(blow, 9_000_040, "concat('Q4 ', substring(text, 21, 160), ' tail4')")
    # p5 (9000094): SPAN-ONLY contamination — the benchmark doc's FIRST
    # md5-selected 40-char window embedded with NO flanking spaces, so
    # the span detector fires by construction (selection is a pure
    # function of the window text) while the merged boundary tokens keep
    # any shared intact word run under ngram_n.  Dies whole in drop
    # mode; survives in excise mode as 'Q5tail5' (the window spliced
    # out).  doc_id 9000094's md5 bucket is 17, so the remainder passes
    # any plausible src0 rate and the two modes produce DIFFERENT
    # output — the row that certifies the excise path end-to-end.
    # clamp to 1 + pos-bound filter (the spans.py _sel_expr pattern):
    # sequence(1, 0) DESCENDS to [1, 0], so a sub-40-char seed would
    # otherwise yield bogus truncated windows where the oracle's
    # range(1, 1) is empty
    w40 = (
        "filter(transform(sequence(1, greatest(length(text) - 40 + 1, 1)),"
        " p -> named_struct('pos', p, 'w', substring(text, p, 40))),"
        " x -> x.pos <= length(text) - 40 + 1"
        "      and substring(md5(x.w), 32, 1) < '2')"
    )
    p5 = planted(
        blow.selectExpr(f"element_at({w40}, 1).w AS w").where("w IS NOT NULL"),
        9_000_094,
        f"concat({_sql_str(_P5_PREFIX)}, w, {_sql_str(_P5_SUFFIX)})",
    )
    corpus = (
        base.unionByName(p1)
        .unionByName(p2)
        .unionByName(p3)
        .unionByName(p4)
        .unionByName(p5)
    )
    return corpus, bench


_PRETRAIN_NEARDUP = _neardup_pairs_ctes(
    grams="char", t_num=17, t_den=20, source="clean"
)

# the pipeline-composition oracle is shared by pretraining_mix (drop
# decon) and pretraining_mix_excise (surgical span excision): same
# corpus/clean/near-dup/ngram/bench-fp prefix, same mixture/packing
# suffix, different decon block spliced between them.
_PRETRAIN_ORACLE_PREFIX = f"""
WITH RECURSIVE seedt AS (
  SELECT text FROM documents WHERE doc_id % 10 = 0 AND doc_id % 97 <> 0
  ORDER BY doc_id LIMIT 1
), blow AS (
  SELECT text FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 1
), corpus AS MATERIALIZED (
  SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT 9000010, text, 'src0', length(text) FROM seedt
  UNION ALL SELECT 9000020, text || '!', 'src0', length(text) + 1 FROM seedt
  UNION ALL SELECT 9000030, t3, 'src0', length(t3) FROM (
    SELECT 'N3 ' || array_to_string(list_slice(
             list_filter(string_split(text, ' '), x -> x <> ''), 3, 26), ' ')
           || ' tail3' AS t3 FROM blow)
  UNION ALL SELECT 9000040, t4, 'src0', length(t4) FROM (
    SELECT 'Q4 ' || substring(text, 21, 160) || ' tail4' AS t4 FROM blow)
  UNION ALL SELECT 9000094, t5, 'src0', length(t5) FROM (
    SELECT '{_P5_PREFIX}' || w || '{_P5_SUFFIX}' AS t5 FROM (
    SELECT s.w AS w FROM (
      SELECT unnest(list_filter(list_transform(
          range(1, greatest(length(text) - 40 + 1, 0) + 1),
          p -> struct_pack(pos := p, w := substring(text, p, 40),
                           fp := md5(substring(text, p, 40)))),
          x -> substring(x.fp, 32, 1) < '2')) AS s
      FROM blow) ORDER BY s.pos LIMIT 1))
), ls AS ({_lang_id_sql("corpus")}
), qs AS ({_quality_sql("corpus")}
), xsurv AS (
  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
), clean AS MATERIALIZED (
  SELECT c.doc_id, c.text, c.source, c.n_chars
  FROM corpus c
  JOIN xsurv USING (doc_id) JOIN ls USING (doc_id) JOIN qs USING (doc_id)
  WHERE ls.lang_pred = 'en' AND qs.quality >= 0.6
), {_PRETRAIN_NEARDUP},
sym AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, u AS label FROM sym
  UNION
  SELECT s.v AS node, r.label FROM reach r JOIN sym s ON s.u = r.node
),
compc AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
ndkept AS MATERIALIZED (
  SELECT c.* FROM clean c LEFT JOIN compc ON compc.node = c.doc_id
  WHERE compc.node IS NULL OR compc.component = c.doc_id
),
bench AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
),
btoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM bench
),
bgrams AS (
  SELECT DISTINCT array_to_string(list_slice(t, i, i + 7), ' ') AS g
  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM btoks)
),
ttoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM ndkept
),
tgrams AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM ttoks)
),
ng_hit AS (SELECT DISTINCT doc_id FROM tgrams JOIN bgrams USING (g)),
bfps AS (
  SELECT DISTINCT w.fp AS fp FROM (
    SELECT unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM bench) t
),
"""

_PRETRAIN_ORACLE_SUFFIX = """
avail AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS a FROM decon GROUP BY source
),
rates AS (
  SELECT source,
         LEAST(10000, (CASE source
                         WHEN 'src0' THEN 2000
                         WHEN 'src10' THEN 50000
                       END) * 10000 // a) AS rate_q
  FROM avail
  WHERE source IN ('src0', 'src10')
),
mix AS MATERIALIZED (
  SELECT d.doc_id, d.source, d.text, r.rate_q
  FROM decon d JOIN rates r USING (source)
  WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT % 10000
        < r.rate_q
),
pt AS MATERIALIZED (
  SELECT doc_id, doc_id % 4 AS shard,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM mix
),
pp AS (
  SELECT doc_id, shard, n_tokens, rn,
         n_tokens AS fill, CAST(0 AS BIGINT) AS bin_id
  FROM pt WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.shard, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
              ELSE p.fill + t.n_tokens END,
         CASE WHEN p.fill + t.n_tokens > 256 THEN p.bin_id + 1
              ELSE p.bin_id END
  FROM pp p JOIN pt t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT p.doc_id, m.source, m.rate_q, CAST(p.shard AS BIGINT) AS shard,
       p.bin_id, p.n_tokens
FROM pp p JOIN mix m USING (doc_id) ORDER BY p.doc_id"""

ORACLES["pretraining_mix"] = (
    _PRETRAIN_ORACLE_PREFIX
    + """tfps AS (
  SELECT DISTINCT doc_id, w.fp AS fp FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM ndkept) t
),
sp_hit AS (SELECT DISTINCT doc_id FROM tfps JOIN bfps USING (fp)),
decon AS MATERIALIZED (
  SELECT * FROM ndkept
  WHERE doc_id NOT IN (SELECT doc_id FROM ng_hit
                       UNION SELECT doc_id FROM sp_hit)
),"""
    + _PRETRAIN_ORACLE_SUFFIX
)

QUERIES["pretraining_mix"] = DriverQuery(
    q_pretraining_mix, ORACLES["pretraining_mix"]
)


def q_pretraining_mix_excise(spark, sf_dir):
    """The composed pipeline with SURGICAL decontamination
    (functions/corpus.pretraining_mix(decon="excise"), r9): the same
    corpus, planted composites, budgets and packing as
    `pretraining_mix`, but span-contaminated docs survive with the
    detected benchmark windows spliced out (functions/spans.
    excise_spans) and the mixture/packing token counts recomputed over
    the remainder — planted 9000040 (the 160-char span clone, dropped
    whole in drop mode) now reappears in the output with its excised
    text's token count; 9000030 (word-8-gram hit) still dies whole, as
    do 9000010/9000020 at their earlier stages."""
    from tsatool_app_spark.functions.corpus import pretraining_mix

    corpus, bench = _pretrain_corpus(spark, sf_dir)
    return _in_doc_id_order(
        pretraining_mix(
            corpus, bench, {"src0": 2_000, "src10": 50_000}, n_shards=4,
            decon="excise",
        )
    )


ORACLES["pretraining_mix_excise"] = (
    _PRETRAIN_ORACLE_PREFIX
    + """ngk AS MATERIALIZED (
  SELECT * FROM ndkept WHERE doc_id NOT IN (SELECT doc_id FROM ng_hit)
),
twx AS (
  SELECT doc_id, w.pos AS pos, w.fp AS fp FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM ngk) t
),
hitsx AS (SELECT DISTINCT t.doc_id, t.pos FROM twx t JOIN bfps b ON t.fp = b.fp),
iv AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS s, CAST(pos + 40 AS BIGINT) AS e
  FROM hitsx
), iv2 AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
), iv3 AS (
  SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni FROM iv2
), iv4 AS (
  SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS isl
  FROM iv3
), merged AS (
  SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM iv4 GROUP BY 1, 2
), gaps AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS gs,
         s AS ge
  FROM merged
  UNION ALL
  SELECT doc_id, max(e), NULL FROM merged GROUP BY doc_id
), rebuilt AS (
  SELECT g.doc_id,
         string_agg(CASE WHEN g.ge IS NULL
                         THEN substring(k.text, CAST(g.gs AS INT))
                         ELSE substring(k.text, CAST(g.gs AS INT),
                                        CAST(g.ge - g.gs AS INT)) END,
                    '' ORDER BY g.gs) AS clean_text
  FROM gaps g JOIN ngk k USING (doc_id) GROUP BY g.doc_id
),
decon AS MATERIALIZED (
  SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n_chars
  FROM (
    SELECT k.doc_id, k.source, coalesce(r.clean_text, k.text) AS text
    FROM ngk k LEFT JOIN rebuilt r USING (doc_id))
  WHERE length(text) > 0
),"""
    + _PRETRAIN_ORACLE_SUFFIX
)

QUERIES["pretraining_mix_excise"] = DriverQuery(
    q_pretraining_mix_excise, ORACLES["pretraining_mix_excise"]
)


def q_dedup_doc_lines(spark, sf_dir):
    """WITHIN-document repeated-line removal
    (functions/corpus.dedup_lines_within_doc, r9): the C4-family
    boilerplate rule inside each doc — first occurrence of each line
    survives, order preserved, short lines exempt.  Complements
    `dedup_chunks` (cross-document).  Corpus doc_id % 10 == 0 (all
    single-line → byte-identical pass-through with n_lines=1) plus
    planted 9000070: a banner line (the seed doc's first 60 chars)
    pasted three times around real middle lines, a repeated
    'middle line one', and two '-' lines that repeat but sit under
    min_chars=2 and must BOTH survive."""
    from tsatool_app_spark.functions.corpus import dedup_lines_within_doc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 10 == 0)
    seed = base.orderBy("doc_id").limit(1).select("text")
    banner = F.substring("text", 1, 60)
    planted = seed.select(
        F.lit(9_000_070).cast("long").alias("doc_id"),
        F.concat_ws(
            "\n",
            banner,
            F.lit("-"),
            F.lit("middle line one"),
            banner,
            F.substring("text", 61, 80),
            F.lit("-"),
            F.lit("middle line one"),
            banner,
        ).alias("text"),
    )
    corpus = base.unionByName(planted)
    return dedup_lines_within_doc(corpus, min_chars=2).orderBy("doc_id")


ORACLES["dedup_doc_lines"] = """
WITH seedt AS (
  SELECT text FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id LIMIT 1
), corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT 9000070,
    substring(text, 1, 60) || chr(10) || '-' || chr(10) ||
    'middle line one' || chr(10) || substring(text, 1, 60) || chr(10) ||
    substring(text, 61, 80) || chr(10) || '-' || chr(10) ||
    'middle line one' || chr(10) || substring(text, 1, 60)
  FROM seedt
), ln AS (
  SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus)
), lx AS (
  SELECT doc_id, pos, ls[pos] AS l,
         length(ls[pos]) < 2 AS exempt,
         row_number() OVER (PARTITION BY doc_id, md5(ls[pos])
                            ORDER BY pos) AS rn
  FROM ln
), kept AS (
  SELECT doc_id, pos, l FROM lx WHERE exempt OR rn = 1
), agg AS (
  SELECT doc_id, string_agg(l, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id, a.clean_text,
       CAST(len(string_split(c.text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(string_split(c.text, chr(10))) - a.n_kept AS BIGINT)
         AS n_lines_dropped
FROM corpus c JOIN agg a USING (doc_id) ORDER BY c.doc_id"""

QUERIES["dedup_doc_lines"] = DriverQuery(
    q_dedup_doc_lines, ORACLES["dedup_doc_lines"]
)


def q_span_excise(spark, sf_dir):
    """Surgical span-level decontamination (functions/spans.excise_spans):
    splice the detected verbatim benchmark windows OUT of each training
    document instead of dropping it — the excision stage completing the
    span family (detect = span_decontaminate, localize = dup_span_sites).
    Corpus doc_id % 10 == 0 (tier-bounded hashing, the family convention)
    plus planted composite 9000050 embedding a 200-char slice of the
    lowest benchmark doc at a shifted offset — a guaranteed multi-window
    excision; doc 0 sits in both sets, so its text self-hits and is
    near-fully excised (the whole-doc edge).  Clean docs pass through
    untouched with 0/0 counters — the oracle checks the splice, the
    island merge, the clamp arithmetic, AND the pass-through."""
    from tsatool_app_spark.functions.spans import excise_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    blow = bench.orderBy("doc_id").limit(1).select("text")
    planted = blow.select(
        F.lit(9_000_050).cast("long").alias("doc_id"),
        F.concat(
            F.lit("E5 "), F.substring("text", 31, 200), F.lit(" tail5")
        ).alias("text"),
    )
    corpus = docs.where(F.col("doc_id") % 10 == 0).unionByName(planted)
    return excise_spans(corpus, bench, window_len=40).orderBy("doc_id")


ORACLES["span_excise"] = """
WITH blow AS (
  SELECT text FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 1
), corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT 9000050, 'E5 ' || substring(text, 31, 200) || ' tail5'
  FROM blow
), bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
), bfps AS (
  SELECT DISTINCT w.fp AS fp FROM (
    SELECT unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM bench) t
), tw AS (
  SELECT doc_id, w.pos AS pos, w.fp AS fp FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
        range(1, greatest(length(text) - 40 + 1, 0) + 1),
        p -> struct_pack(pos := p, fp := md5(substring(text, p, 40)))),
        x -> substring(x.fp, 32, 1) < '2')) AS w
    FROM corpus) t
), hits AS (
  SELECT DISTINCT t.doc_id, t.pos FROM tw t JOIN bfps b ON t.fp = b.fp
), iv AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS s, CAST(pos + 40 AS BIGINT) AS e
  FROM hits
), iv2 AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
), iv3 AS (
  SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni FROM iv2
), iv4 AS (
  SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS isl
  FROM iv3
), merged AS (
  SELECT doc_id, isl, min(s) AS s, max(e) AS e FROM iv4 GROUP BY 1, 2
), gaps AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS gs,
         s AS ge
  FROM merged
  UNION ALL
  SELECT doc_id, max(e), NULL FROM merged GROUP BY doc_id
), rebuilt AS (
  SELECT g.doc_id,
         string_agg(CASE WHEN g.ge IS NULL
                         THEN substring(c.text, CAST(g.gs AS INT))
                         ELSE substring(c.text, CAST(g.gs AS INT),
                                        CAST(g.ge - g.gs AS INT)) END,
                    '' ORDER BY g.gs) AS clean_text
  FROM gaps g JOIN corpus c USING (doc_id) GROUP BY g.doc_id
), stats AS (
  SELECT m.doc_id, CAST(count(*) AS BIGINT) AS n_spans_excised,
         CAST(SUM(LEAST(m.e, length(c.text) + 1) - m.s) AS BIGINT)
           AS n_excised_chars
  FROM merged m JOIN corpus c USING (doc_id) GROUP BY m.doc_id
)
SELECT c.doc_id,
       coalesce(r.clean_text, c.text) AS clean_text,
       coalesce(s.n_spans_excised, CAST(0 AS BIGINT)) AS n_spans_excised,
       coalesce(s.n_excised_chars, CAST(0 AS BIGINT)) AS n_excised_chars
FROM corpus c
LEFT JOIN rebuilt r USING (doc_id)
LEFT JOIN stats s USING (doc_id)
ORDER BY c.doc_id"""

QUERIES["span_excise"] = DriverQuery(q_span_excise, ORACLES["span_excise"])


_BPE_PACK_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
]


def q_bpe_token_pack(spark, sf_dir):
    """TRUE-token budgeting end to end (r9 VERDICT next-round #4): BPE
    token counts from a fixed merge list (functions/bpe.
    bpe_token_count_col — the distributed encoder's count as pure length
    arithmetic, no UDF) feed token_budget_mixture's per-source rates AND
    pack_sequences' bins via ``token_count_col`` — so the "token budget"
    is measured in the same units a trainer's tokenizer would produce,
    not the whitespace approximation (which stays the default and is
    certified separately by token_budget_mixture / pack_sequences).
    Merge list fixed by constants: training is certified by bpe_merges;
    this row certifies the counting + budgeting + packing COMPOSITION.
    Budgets chosen so src0/src1 quantize below 10000 (units matter:
    char- or whitespace-counted supply would shift rate_q) and src2 caps
    at 10000."""
    from tsatool_app_spark.functions.bpe import add_bpe_token_counts
    from tsatool_app_spark.functions.corpus import pack_sequences
    from tsatool_app_spark.functions.sampling import token_budget_mixture

    docs = load_table(spark, sf_dir, "documents")
    counted = add_bpe_token_counts(docs, _BPE_PACK_MERGES)
    mix = token_budget_mixture(
        counted,
        {"src0": 4_000, "src1": 2_500, "src2": 1_000_000},
        source_col="source",
        token_col="n_tokens",
        id_col="doc_id",
    )
    packed = pack_sequences(
        mix, budget=256, n_shards=8, token_count_col="n_tokens"
    )
    return (
        packed.join(mix.select("doc_id", "source", "rate_q"), "doc_id")
        .select("doc_id", "source", "rate_q", "shard", "bin_id", "n_tokens")
        .orderBy("doc_id")
    )


def _bpe_pack_oracle() -> str:
    """Oracle generated from the SAME merge constants (transcription-
    proof): separator-encode each word, apply the merge chain in rank
    order as nested replace(), count symbols from the double-separator
    joints, then replay the mixture-rate arithmetic and the recursive
    greedy packing scan."""
    rep = "chr(31) || array_to_string(string_split(w, ''), chr(31)||chr(31)) || chr(31)"
    for left, right in _BPE_PACK_MERGES:
        pat = f"chr(31)||'{left}'||chr(31)||chr(31)||'{right}'||chr(31)"
        new = f"chr(31)||'{left}{right}'||chr(31)"
        rep = f"replace({rep}, {pat}, {new})"
    return f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents
),
enc AS (
  SELECT doc_id, source, w, {rep} AS rep FROM tok
),
cnt AS (
  SELECT doc_id, source,
         SUM(CASE WHEN contains(w, chr(31)) THEN 1
                  ELSE (length(rep) - length(replace(rep, chr(31)||chr(31), ''))) // 2 + 1
             END) AS nt
  FROM enc GROUP BY doc_id, source
),
counted AS (
  SELECT d.doc_id, d.source, CAST(COALESCE(c.nt, 0) AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN cnt c USING (doc_id, source)
),
avail AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS a FROM counted GROUP BY source
),
rates AS (
  SELECT source,
         LEAST(10000, (CASE source
                         WHEN 'src0' THEN 4000
                         WHEN 'src1' THEN 2500
                         WHEN 'src2' THEN 1000000
                       END) * CAST(10000 AS BIGINT) // a) AS rate_q
  FROM avail
  WHERE source IN ('src0', 'src1', 'src2')
),
kept AS (
  SELECT c.doc_id, c.source, r.rate_q, c.n_tokens
  FROM counted c JOIN rates r USING (source)
  WHERE ('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 4))::INT % 10000
        < r.rate_q
),
t AS MATERIALIZED (
  SELECT doc_id, source, rate_q, n_tokens, doc_id % 8 AS shard,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM kept
),
p AS (
  SELECT doc_id, source, rate_q, shard, n_tokens, rn,
         n_tokens AS fill, CAST(0 AS BIGINT) AS bin_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.source, t.rate_q, t.shard, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
              ELSE p.fill + t.n_tokens END,
         CASE WHEN p.fill + t.n_tokens > 256 THEN p.bin_id + 1
              ELSE p.bin_id END
  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, source, rate_q, CAST(shard AS BIGINT) AS shard, bin_id, n_tokens
FROM p ORDER BY doc_id"""


ORACLES["bpe_token_pack"] = _bpe_pack_oracle()
QUERIES["bpe_token_pack"] = DriverQuery(
    q_bpe_token_pack, ORACLES["bpe_token_pack"]
)


def q_image_dhash_pairs(spark, sf_dir):
    """Perceptual image dedup end to end (r9 VERDICT stretch #8): render
    one deterministic grayscale PNG per document (functions/multimodal.
    render_text_images — pixel rows are md5 expansions of the text, so
    identical texts give byte-identical images and distinct texts give
    i.i.d. dhash bits), REALLY decode it (sinks_png) and dhash it
    (image_dhash: area-mean 8x9 luma cells, horizontal-gradient bits),
    then pair documents whose images hash EQUAL — exact-duplicate
    detection through the full image pipeline.  The oracle states the
    generating truth: identical md5(text) ⟺ identical rendered image ⟺
    equal dhash (cross-text collisions are ~2⁻⁶⁴/pair: each cell is one
    independent md5 byte).  The PERCEPTUAL property — JPEG/PNG
    re-encodes and resizes of one picture pairing up within a Hamming
    budget — is codec-level and pinned by
    tests/test_multimodal.py::test_image_dhash_planted_transforms;
    near-misses route through image_near_dup_pairs (the SimHash
    combination-block probe machinery at 64 bits).  Corpus restricted
    to doc_id % 5 == 0 (sweep-tier pair volume bounded) with THREE
    planted composites so the row is non-vacuous at every tier (the
    r10 vacuity net caught the unplanted form empty at sf0.01):
    9000101/9000102 duplicate the lowest-id doc's text (3 pairs with
    the original by construction), 9000103 is a one-char edit of the
    next doc (different md5 AND far dhash - pairs with nothing)."""
    from tsatool_app_spark.functions.multimodal import (
        image_dhash,
        render_text_images,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    lo2 = (
        base.join(
            base.select(F.min("doc_id").alias("doc_id")), "doc_id", "left_anti"
        )
        .orderBy("doc_id")
        .limit(1)
    )
    docs = (
        base.unionByName(
            lo.select(F.lit(9_000_101).cast("long").alias("doc_id"), "text")
        )
        .unionByName(
            lo.select(F.lit(9_000_102).cast("long").alias("doc_id"), "text")
        )
        .unionByName(
            lo2.select(
                F.lit(9_000_103).cast("long").alias("doc_id"),
                F.concat(F.col("text"), F.lit("!")).alias("text"),
            )
        )
    )
    sigs = image_dhash(render_text_images(docs), id_col="doc_id")
    from pyspark.sql import Window

    # hot-hash cap (the family discipline: a million copies of one blank
    # image must not emit 10^12 pairs) — groups past 256 are excluded
    # from the self-join, oracle-mirrored below; inert at every tier
    # (max group = the 10-clone structure), exercised by
    # image_near_dup_pairs' max_bucket_size machinery for near-misses
    w = Window.partitionBy("dhash")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    a = capped.select(F.col("doc_id").alias("id_a"), "dhash")
    b = capped.select(F.col("doc_id").alias("id_b"), "dhash")
    return (
        a.join(b, "dhash")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


ORACLES["image_dhash_pairs"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
lo2 AS (
  SELECT text FROM base WHERE doc_id > (SELECT min(doc_id) FROM base)
  ORDER BY doc_id LIMIT 1
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000101, text FROM lo
  UNION ALL SELECT 9000102, text FROM lo
  UNION ALL SELECT 9000103, text || '!' FROM lo2
)
, capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a
JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
ORDER BY id_a, id_b"""

QUERIES["image_dhash_pairs"] = DriverQuery(
    q_image_dhash_pairs, ORACLES["image_dhash_pairs"]
)


def q_audio_fp_pairs(spark, sf_dir):
    """Perceptual AUDIO dedup end to end (r10 VERDICT ask #2 — the row
    queued when the r10 board froze): render one deterministic PCM-16
    WAV per document (functions/multimodal.render_text_audio — frame
    samples are md5 expansions of the text, so identical texts give
    byte-identical clips and distinct texts i.i.d. frame energies),
    REALLY decode it (wav_codec) and fingerprint it (audio_fingerprint:
    65 equal frames, one bit per adjacent RMS-energy comparison,
    gain-invariant), then pair documents whose clips fingerprint EQUAL.
    The oracle states the generating truth: identical md5(text) ⟺
    identical rendered WAV ⟺ equal fingerprint (cross-text collisions
    ~2⁻⁶⁴/pair).  The PERCEPTUAL property — 2× gain and 2:1 decimation
    copies of one recording pairing up — is codec-level and pinned by
    tests/test_multimodal.py::test_audio_fingerprint_planted_transforms;
    near-misses route through audio_near_dup_pairs.  Corpus restricted
    to doc_id % 5 == 1 with THREE planted composites for non-vacuity at
    every tier (image_dhash_pairs' vacuity-net lesson): 9000111/9000112
    duplicate the lowest-id doc's text (3 pairs with the original by
    construction), 9000113 is a one-char edit of the next doc
    (different md5 AND far fingerprint — pairs with nothing).  Same
    hot-hash group cap (256, oracle-mirrored) as the image row."""
    from tsatool_app_spark.functions.multimodal import (
        audio_fingerprint,
        render_text_audio,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 1)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    lo2 = (
        base.join(
            base.select(F.min("doc_id").alias("doc_id")), "doc_id", "left_anti"
        )
        .orderBy("doc_id")
        .limit(1)
    )
    docs = (
        base.unionByName(
            lo.select(F.lit(9_000_111).cast("long").alias("doc_id"), "text")
        )
        .unionByName(
            lo.select(F.lit(9_000_112).cast("long").alias("doc_id"), "text")
        )
        .unionByName(
            lo2.select(
                F.lit(9_000_113).cast("long").alias("doc_id"),
                F.concat(F.col("text"), F.lit("!")).alias("text"),
            )
        )
    )
    sigs = audio_fingerprint(render_text_audio(docs), id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("afp")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    a = capped.select(F.col("doc_id").alias("id_a"), "afp")
    b = capped.select(F.col("doc_id").alias("id_b"), "afp")
    return (
        a.join(b, "afp")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


ORACLES["audio_fp_pairs"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 1
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
lo2 AS (
  SELECT text FROM base WHERE doc_id > (SELECT min(doc_id) FROM base)
  ORDER BY doc_id LIMIT 1
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000111, text FROM lo
  UNION ALL SELECT 9000112, text FROM lo
  UNION ALL SELECT 9000113, text || '!' FROM lo2
)
, capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a
JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
ORDER BY id_a, id_b"""

QUERIES["audio_fp_pairs"] = DriverQuery(
    q_audio_fp_pairs, ORACLES["audio_fp_pairs"]
)


def q_video_fp_pairs(spark, sf_dir):
    """Perceptual VIDEO dedup end to end (r10 VERDICT missing #3):
    render one deterministic MJPEG-AVI per document (functions/
    multimodal.render_text_videos — five md5-expanded frames, each
    JPEG-encoded natively, wrapped by the native AVI muxer), REALLY
    demux and decode it (avi_codec + jpeg_codec inside
    video_fingerprint's single worker pass), per-frame dHash, per-bit
    majority vote → one 64-bit signature per video, then pair documents
    whose videos fingerprint EQUAL.  Oracle = generating truth:
    identical md5(text) ⟺ identical rendered AVI ⟺ equal fingerprint
    (distinct texts give i.i.d. frame pixels, hence i.i.d. majority
    bits; collisions ~2⁻⁶⁴/pair).  The PERCEPTUAL property — a q60
    re-encode or frame-decimated copy of one clip pairing up — is
    pinned by tests/test_multimodal.py::
    test_video_fingerprint_planted_transforms; near-misses route
    through video_near_dup_pairs.  Corpus restricted to
    doc_id % 31 == 5 (each doc renders+decodes 5 JPEG frames — the
    sparsest slice of the media-row family) with the standard THREE
    planted composites: 9000121/9000122 duplicate the lowest-id doc's
    text, 9000123 is a one-char edit of the next doc.  Same hot-hash
    group cap (256, oracle-mirrored)."""
    from tsatool_app_spark.functions.multimodal import (
        render_text_videos,
        video_fingerprint,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 31 == 5)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    lo2 = (
        base.join(
            base.select(F.min("doc_id").alias("doc_id")), "doc_id", "left_anti"
        )
        .orderBy("doc_id")
        .limit(1)
    )
    docs = (
        base.unionByName(
            lo.select(F.lit(9_000_121).cast("long").alias("doc_id"), "text")
        )
        .unionByName(
            lo.select(F.lit(9_000_122).cast("long").alias("doc_id"), "text")
        )
        .unionByName(
            lo2.select(
                F.lit(9_000_123).cast("long").alias("doc_id"),
                F.concat(F.col("text"), F.lit("!")).alias("text"),
            )
        )
    )
    sigs = video_fingerprint(render_text_videos(docs), id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("vfp")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    a = capped.select(F.col("doc_id").alias("id_a"), "vfp")
    b = capped.select(F.col("doc_id").alias("id_b"), "vfp")
    return (
        a.join(b, "vfp")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


ORACLES["video_fp_pairs"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 31 = 5
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
lo2 AS (
  SELECT text FROM base WHERE doc_id > (SELECT min(doc_id) FROM base)
  ORDER BY doc_id LIMIT 1
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000121, text FROM lo
  UNION ALL SELECT 9000122, text FROM lo
  UNION ALL SELECT 9000123, text || '!' FROM lo2
)
, capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a
JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
ORDER BY id_a, id_b"""

QUERIES["video_fp_pairs"] = DriverQuery(
    q_video_fp_pairs, ORACLES["video_fp_pairs"]
)


def q_image_near_dup_pairs(spark, sf_dir):
    """Image NEAR-MISS pairs with a faithful oracle (r10 VERDICT stretch
    #7): the Hamming>0 path of image_near_dup_pairs was pytest-only
    because a JPEG re-encode's exact Hamming distance is data-dependent
    — so the fixture makes the distances CONSTRUCTED constants instead:
    synthetic_dhash_image builds real 8×9 PNGs whose dHash is all-ones
    except at chosen bit positions (one pixel per dhash cell, strictly
    increasing base row; flipping bit k pins pixel (r,c+1) to pixel
    (r,c)), so the planted trio 9000201/9000202/9000203 (flips ∅, {0},
    {62,63}) sits at pairwise Hamming EXACTLY 1/2/3 — through the real
    render→PNG-decode→dhash→combination-block-probe machinery
    (C(6,3)=20 probe tables, complete by pigeonhole at max_hamming=3).
    The corpus (doc_id % 7 == 3, md5-rendered images, plus exact-dup
    composites 9000205/9000206 of the lowest-id doc) contributes the
    Hamming-0 equality pairs the oracle states as md5(text) identity.
    Cross-group false pairs need two independent 64-bit hashes within
    Hamming 3: P ≈ 43,745/2⁶⁴ ≈ 2.4e-15/pair — vanishing at every
    tier this row runs.  Equal-hash groups pre-capped at 256 on both
    sides (oracle QUALIFY twin); the probe machinery's own
    max_bucket_size stays inert at these group sizes."""
    from tsatool_app_spark.functions.multimodal import (
        image_dhash,
        image_near_dup_pairs,
        render_text_images,
        synthetic_dhash_image,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    docs = base.unionByName(
        lo.select(F.lit(9_000_205).cast("long").alias("doc_id"), "text")
    ).unionByName(
        lo.select(F.lit(9_000_206).cast("long").alias("doc_id"), "text")
    )
    planted = spark.createDataFrame(
        [
            (9_000_201, bytearray(synthetic_dhash_image())),
            (9_000_202, bytearray(synthetic_dhash_image((0,)))),
            (9_000_203, bytearray(synthetic_dhash_image((62, 63)))),
        ],
        "doc_id long, content binary",
    )
    media = render_text_images(docs).unionByName(planted)
    sigs = image_dhash(media, id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("dhash")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    return image_near_dup_pairs(capped, id_col="doc_id").orderBy(
        "id_a", "id_b"
    )


ORACLES["image_near_dup_pairs"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000205, text FROM lo
  UNION ALL SELECT 9000206, text FROM lo
),
capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
),
eq_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
  FROM capped a
  JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM eq_pairs
UNION ALL
SELECT * FROM (VALUES
  (CAST(9000201 AS BIGINT), CAST(9000202 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(9000201 AS BIGINT), CAST(9000203 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(9000202 AS BIGINT), CAST(9000203 AS BIGINT), CAST(3 AS BIGINT))
) v(id_a, id_b, hamming)
ORDER BY id_a, id_b"""

QUERIES["image_near_dup_pairs"] = DriverQuery(
    q_image_near_dup_pairs, ORACLES["image_near_dup_pairs"]
)


def q_audio_near_dup_pairs(spark, sf_dir):
    """Audio NEAR-MISS pairs with a faithful oracle — the audio twin of
    image_near_dup_pairs, same design: synthetic_afp_audio builds real
    PCM-16 WAVs whose energy-gradient fingerprint is all-ones except at
    chosen bits (65 constant-amplitude frames, strictly increasing;
    flipping bit k pins frame k+1's amplitude to frame k's), so the
    planted trio 9000211/9000212/9000213 (flips ∅, {0}, {62,63}) sits
    at pairwise Hamming EXACTLY 1/2/3 — through the real WAV-decode →
    fingerprint → combination-block-probe machinery.  The corpus
    (doc_id % 5 == 2, md5-rendered clips, plus exact-dup composites
    9000215/9000216 of the lowest-id doc) contributes the Hamming-0
    equality pairs as md5(text) identity.  Same 2.4e-15/pair cross-group
    false-pair bound and 256 group pre-cap (QUALIFY-mirrored) as the
    image row."""
    from tsatool_app_spark.functions.multimodal import (
        audio_fingerprint,
        audio_near_dup_pairs,
        render_text_audio,
        synthetic_afp_audio,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 2)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    docs = base.unionByName(
        lo.select(F.lit(9_000_215).cast("long").alias("doc_id"), "text")
    ).unionByName(
        lo.select(F.lit(9_000_216).cast("long").alias("doc_id"), "text")
    )
    planted = spark.createDataFrame(
        [
            (9_000_211, bytearray(synthetic_afp_audio())),
            (9_000_212, bytearray(synthetic_afp_audio((0,)))),
            (9_000_213, bytearray(synthetic_afp_audio((62, 63)))),
        ],
        "doc_id long, content binary",
    )
    media = render_text_audio(docs).unionByName(planted)
    sigs = audio_fingerprint(media, id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("afp")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    return audio_near_dup_pairs(capped, id_col="doc_id").orderBy(
        "id_a", "id_b"
    )


ORACLES["audio_near_dup_pairs"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 2
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000215, text FROM lo
  UNION ALL SELECT 9000216, text FROM lo
),
capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
),
eq_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
  FROM capped a
  JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM eq_pairs
UNION ALL
SELECT * FROM (VALUES
  (CAST(9000211 AS BIGINT), CAST(9000212 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(9000211 AS BIGINT), CAST(9000213 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(9000212 AS BIGINT), CAST(9000213 AS BIGINT), CAST(3 AS BIGINT))
) v(id_a, id_b, hamming)
ORDER BY id_a, id_b"""

QUERIES["audio_near_dup_pairs"] = DriverQuery(
    q_audio_near_dup_pairs, ORACLES["audio_near_dup_pairs"]
)


def q_video_near_dup_pairs(spark, sf_dir):
    """Video NEAR-MISS pairs with a faithful oracle — completing the
    constructed-distance family across all three media types:
    synthetic_vfp_video builds real MJPEG-AVIs (native JPEG q90 encode)
    of identical 8×9 gradient frames whose majority-vote fingerprint is
    all-ones except at chosen bits; because the frames ride a LOSSY
    codec, a flip pins pixel (r,c+1) to pixel (r,c) − 15 — a margin the
    ±2-count JPEG noise cannot re-order, where the image fixture's
    lossless PNG pins exact equality.  The planted trio
    9000221/9000222/9000223 (flips ∅, {0}, {62,63}) sits at pairwise
    Hamming EXACTLY 1/2/3 through the real AVI-demux → JPEG-decode →
    per-frame dHash → majority → combination-block probe.  Corpus
    (doc_id % 97 == 7 — each doc renders and decodes 5 JPEG frames, so
    the sparsest media slice — plus exact-dup composites
    9000225/9000226) contributes the Hamming-0 md5(text) equality
    pairs.  Same false-pair bound (~2.4e-15/pair) and 256 group pre-cap
    (QUALIFY-mirrored) as the image/audio near-miss rows."""
    from tsatool_app_spark.functions.multimodal import (
        render_text_videos,
        synthetic_vfp_video,
        video_fingerprint,
        video_near_dup_pairs,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 97 == 7)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    docs = base.unionByName(
        lo.select(F.lit(9_000_225).cast("long").alias("doc_id"), "text")
    ).unionByName(
        lo.select(F.lit(9_000_226).cast("long").alias("doc_id"), "text")
    )
    planted = spark.createDataFrame(
        [
            (9_000_221, bytearray(synthetic_vfp_video())),
            (9_000_222, bytearray(synthetic_vfp_video((0,)))),
            (9_000_223, bytearray(synthetic_vfp_video((62, 63)))),
        ],
        "doc_id long, content binary",
    )
    media = render_text_videos(docs).unionByName(planted)
    sigs = video_fingerprint(media, id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("vfp")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    return video_near_dup_pairs(capped, id_col="doc_id").orderBy(
        "id_a", "id_b"
    )


ORACLES["video_near_dup_pairs"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 7
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000225, text FROM lo
  UNION ALL SELECT 9000226, text FROM lo
),
capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
),
eq_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
  FROM capped a
  JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM eq_pairs
UNION ALL
SELECT * FROM (VALUES
  (CAST(9000221 AS BIGINT), CAST(9000222 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(9000221 AS BIGINT), CAST(9000223 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(9000222 AS BIGINT), CAST(9000223 AS BIGINT), CAST(3 AS BIGINT))
) v(id_a, id_b, hamming)
ORDER BY id_a, id_b"""

QUERIES["video_near_dup_pairs"] = DriverQuery(
    q_video_near_dup_pairs, ORACLES["video_near_dup_pairs"]
)


#: 144 single-char merges (>EXPR_MERGE_LIMIT=128, so impl='auto' routes to
#: the mapInPandas batch encoder) — trivially well-formed with unique
#: outputs; high-frequency English letters so the merges actually fire on
#: the corpus text.
_BPE_BATCH_MERGES = [
    (a, b) for a in "etaoinshr" for b in "etaoinshrdlucmfw"
]


def q_bpe_batch_count(spark, sf_dir):
    """The BATCH BPE encoder certified against an independent engine
    (r10 VERDICT ask #1's 'done' bar): add_bpe_token_counts with a
    144-merge list — PAST the EXPR_MERGE_LIMIT=128 routing bound, so
    impl='auto' takes the mapInPandas _WordEncoder path (the expression
    path dies with a JVM StackOverflowError at ~300 nested replaces;
    measured r11) — while the DuckDB oracle runs the SAME merge list as
    an unrolled 144-deep replace chain on the separator encoding, i.e.
    the literal spec.  A value match here pins the batch encoder's
    min-rank iteration ≡ replace-chain pass semantics on real corpus
    text, independent of the Spark expression path entirely.  Parity
    legs against the expression path live in tests/test_bpe.py."""
    from tsatool_app_spark.functions.bpe import add_bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        add_bpe_token_counts(docs, _BPE_BATCH_MERGES)
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


def _bpe_batch_oracle() -> str:
    """Oracle generated from the SAME merge constants (transcription-
    proof, mirrors _bpe_pack_oracle): separator-encode each word, apply
    the 144-merge chain in rank order as replace() — CHUNKED into
    chained CTEs of ≤64 nested calls each (DuckDB's binder recursion
    cap is 128, so the whole chain can't be one expression) — then
    count symbols from the double-separator joints."""
    enc = (
        "chr(31) || array_to_string(string_split(w, ''), "
        "chr(31)||chr(31)) || chr(31)"
    )
    ctes = [
        "tok AS (\n  SELECT doc_id,\n"
        "         unnest(list_filter(string_split(text, ' '), x -> x <> ''))"
        " AS w\n  FROM documents\n)",
        f"enc0 AS (\n  SELECT doc_id, w, {enc} AS rep FROM tok\n)",
    ]
    n_chunks = 0
    for start in range(0, len(_BPE_BATCH_MERGES), 64):
        rep = "rep"
        for left, right in _BPE_BATCH_MERGES[start : start + 64]:
            pat = f"chr(31)||'{left}'||chr(31)||chr(31)||'{right}'||chr(31)"
            new = f"chr(31)||'{left}{right}'||chr(31)"
            rep = f"replace({rep}, {pat}, {new})"
        n_chunks += 1
        ctes.append(
            f"enc{n_chunks} AS (\n  SELECT doc_id, w, {rep} AS rep "
            f"FROM enc{n_chunks - 1}\n)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
cnt AS (
  SELECT doc_id,
         SUM(CASE WHEN contains(w, chr(31)) THEN 1
                  ELSE (length(rep) - length(replace(rep, chr(31)||chr(31), ''))) // 2 + 1
             END) AS nt
  FROM enc{n_chunks} GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(c.nt, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN cnt c USING (doc_id)
ORDER BY doc_id"""


ORACLES["bpe_batch_count"] = _bpe_batch_oracle()
QUERIES["bpe_batch_count"] = DriverQuery(
    q_bpe_batch_count, ORACLES["bpe_batch_count"]
)


def q_bpe_batch_encode(spark, sf_dir):
    """The batch BPE encoder's token ARRAYS certified cross-engine —
    bpe_batch_count pins the counts; this row pins the actual token
    SEQUENCE (space-joined per doc, word order preserved) against the
    same chunked replace-chain oracle, so a batch-encoder bug that
    produced the right number of wrong tokens could not slip past the
    count row.  Same 144-merge auto-routed mapInPandas path."""
    from tsatool_app_spark.functions.bpe import bpe_encode

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    enc = bpe_encode(docs, _BPE_BATCH_MERGES)  # auto → batch
    return enc.select(
        "doc_id",
        F.coalesce(F.array_join("bpe_tokens", " "), F.lit("")).alias(
            "tokens"
        ),
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).alias("n_tokens"),
    ).orderBy("doc_id")


def _bpe_batch_encode_oracle() -> str:
    """Token-sequence twin of _bpe_batch_oracle: generate_subscripts
    keeps each word's position so string_agg can reassemble the doc's
    token stream in word order; per word the separator encoding is
    stripped and split back into tokens."""
    enc = (
        "chr(31) || array_to_string(string_split(w, ''), "
        "chr(31)||chr(31)) || chr(31)"
    )
    ctes = [
        "words AS (\n  SELECT doc_id,"
        " list_filter(string_split(text, ' '), x -> x <> '') AS ws\n"
        "  FROM documents\n)",
        "tok AS (\n  SELECT doc_id, unnest(ws) AS w,"
        " generate_subscripts(ws, 1) AS i FROM words\n)",
        f"enc0 AS (\n  SELECT doc_id, i, w, {enc} AS rep FROM tok\n)",
    ]
    n_chunks = 0
    for start in range(0, len(_BPE_BATCH_MERGES), 64):
        rep = "rep"
        for left, right in _BPE_BATCH_MERGES[start : start + 64]:
            pat = f"chr(31)||'{left}'||chr(31)||chr(31)||'{right}'||chr(31)"
            new = f"chr(31)||'{left}{right}'||chr(31)"
            rep = f"replace({rep}, {pat}, {new})"
        n_chunks += 1
        ctes.append(
            f"enc{n_chunks} AS (\n  SELECT doc_id, i, w, {rep} AS rep "
            f"FROM enc{n_chunks - 1}\n)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
per_word AS (
  SELECT doc_id, i,
         CASE WHEN contains(w, chr(31)) THEN w
              ELSE array_to_string(
                     string_split(substring(rep, 2, length(rep) - 2),
                                  chr(31)||chr(31)), ' ')
         END AS tok_str,
         CASE WHEN contains(w, chr(31)) THEN 1
              ELSE (length(rep) - length(replace(rep, chr(31)||chr(31), ''))) // 2 + 1
         END AS nt
  FROM enc{n_chunks}
),
agg AS (
  SELECT doc_id, string_agg(tok_str, ' ' ORDER BY i) AS tokens,
         CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM per_word GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.tokens, '') AS tokens,
       COALESCE(a.n_tokens, 0) AS n_tokens
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id"""


ORACLES["bpe_batch_encode"] = _bpe_batch_encode_oracle()
QUERIES["bpe_batch_encode"] = DriverQuery(
    q_bpe_batch_encode, ORACLES["bpe_batch_encode"]
)


def q_epoch_mixture(spark, sf_dir):
    """Epoch-aware UPSAMPLING mixture (functions/sampling.
    epoch_budget_mixture): token_budget_mixture can only sample a
    source DOWN, but real pretraining mixes repeat small high-quality
    sources for several epochs — per source full = budget div avail
    whole epochs plus a deterministic md5-bucket subset for the
    fractional epoch, all-integer arithmetic, same hash rule as the
    down-sampler (budget ≤ supply degenerates to exactly its keep-set
    with n_copies = 1; pinned by test_epoch_budget_mixture).  Budgets
    chosen to exercise BOTH regimes at the certification tier: src0
    (~8k chars at sf0.01) upsamples at ~3.8 epochs, src1 downsamples
    (~0.47), src2 upsamples heavily; at sf1 (~730k chars/source) src2
    lands in the full=1-plus-fraction regime — the oracle recomputes
    from supply, so every tier certifies live arithmetic.  The
    zero-supply / zero-budget edge branches are pytest-pinned (no such
    source exists in the data for an oracle to see)."""
    from tsatool_app_spark.functions.sampling import epoch_budget_mixture

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    mix = epoch_budget_mixture(
        docs, {"src0": 30_000, "src1": 4_000, "src2": 1_000_000}
    )
    return mix.select("doc_id", "source", "rem_q", "n_copies").orderBy(
        "doc_id"
    )


ORACLES["epoch_mixture"] = """
WITH counted AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS nt FROM documents
),
avail AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS a FROM counted GROUP BY source
),
plan AS (
  SELECT source, a,
         CAST(CASE source WHEN 'src0' THEN 30000
                          WHEN 'src1' THEN 4000
                          WHEN 'src2' THEN 1000000 END AS BIGINT) AS b
  FROM avail WHERE source IN ('src0', 'src1', 'src2')
),
p2 AS (
  SELECT source, b // a AS fullep,
         CAST((b % a) * 10000 // a AS BIGINT) AS rem_q
  FROM plan
),
copies AS (
  SELECT c.doc_id, c.source, p.rem_q,
         CAST(p.fullep
              + CASE WHEN ('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 4))::INT
                          % 10000 < p.rem_q
                     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM counted c JOIN p2 p USING (source)
)
SELECT doc_id, source, rem_q, n_copies
FROM copies WHERE n_copies > 0
ORDER BY doc_id"""

QUERIES["epoch_mixture"] = DriverQuery(
    q_epoch_mixture, ORACLES["epoch_mixture"]
)


def q_epoch_pack(spark, sf_dir):
    """The upsampled-mixture → packing SEAM certified end to end:
    epoch_budget_mixture → explode_epoch_copies → pack_sequences, with
    a synthesized per-copy id (doc_id·1024 + copy_idx — n_copies can
    never approach 1024 unless a source's whole supply is under
    budget/1024 ≈ 30 chars) keeping the greedy pack's id-order contract
    deterministic over REPEATED documents.  What the per-operator
    oracles can't see is exactly this seam: that every epoch copy packs
    as its own sequence, in copy order, under the same budget rule —
    the oracle replays the whole chain (supply → epochs → explode →
    recursive first-fit scan) from the raw table."""
    from tsatool_app_spark.functions.corpus import pack_sequences
    from tsatool_app_spark.functions.sampling import (
        epoch_budget_mixture,
        explode_epoch_copies,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    mix = epoch_budget_mixture(docs, {"src0": 30_000, "src3": 20_000})
    ex = explode_epoch_copies(mix).withColumn(
        "copy_id", F.col("doc_id") * 1024 + F.col("copy_idx")
    )
    packed = pack_sequences(
        ex, budget=1000, n_shards=4, id_col="copy_id",
        token_count_col="n_chars",
    )
    return packed.select(
        F.expr("copy_id div 1024").alias("doc_id"),
        (F.col("copy_id") % 1024).alias("copy_idx"),
        "shard",
        "bin_id",
        "n_tokens",
    ).orderBy("doc_id", "copy_idx")


ORACLES["epoch_pack"] = """
WITH RECURSIVE counted AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS nt FROM documents
),
avail AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS a FROM counted GROUP BY source
),
plan AS (
  SELECT source, a,
         CAST(CASE source WHEN 'src0' THEN 30000
                          WHEN 'src3' THEN 20000 END AS BIGINT) AS b
  FROM avail WHERE source IN ('src0', 'src3')
),
p2 AS (
  SELECT source, b // a AS fullep,
         CAST((b % a) * 10000 // a AS BIGINT) AS rem_q
  FROM plan
),
copies AS (
  SELECT c.doc_id, c.nt,
         CAST(p.fullep
              + CASE WHEN ('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 4))::INT
                          % 10000 < p.rem_q
                     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM counted c JOIN p2 p USING (source)
),
ex AS (
  SELECT doc_id, nt, doc_id * 1024 + u AS copy_id
  FROM copies, unnest(range(n_copies)) AS t(u)
  WHERE n_copies > 0
),
t AS MATERIALIZED (
  SELECT copy_id, nt, copy_id % 4 AS shard,
         row_number() OVER (PARTITION BY copy_id % 4 ORDER BY copy_id) AS rn
  FROM ex
),
p AS (
  SELECT copy_id, shard, nt, rn, nt AS fill, CAST(0 AS BIGINT) AS bin_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.copy_id, t.shard, t.nt, t.rn,
         CASE WHEN p.fill + t.nt > 1000 THEN t.nt ELSE p.fill + t.nt END,
         CASE WHEN p.fill + t.nt > 1000 THEN p.bin_id + 1 ELSE p.bin_id END
  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT copy_id // 1024 AS doc_id, copy_id % 1024 AS copy_idx,
       CAST(shard AS BIGINT) AS shard, bin_id, nt AS n_tokens
FROM p ORDER BY doc_id, copy_idx"""

QUERIES["epoch_pack"] = DriverQuery(q_epoch_pack, ORACLES["epoch_pack"])


#: Pretokenized-BPE driver constants (r11 VERDICT ask #2): 4 punct/digit
#: merges prepended to the 144 letter merges — 148 total keeps impl='auto'
#: on the batch path, and the punct merges only ever FIRE when the classes
#: pretokenizer actually splits '...' / '3.14' runs out of the text.
_BPE_PRETOK_MERGES = [
    (".", "."), ("..", "."), ("1", "4"), (";", ";"),
] + _BPE_BATCH_MERGES

#: The deterministic punctuation/whitespace injector, stated once for both
#: engines: ' a ' -> ', a...\t' and ' the ' -> '\n3.14 the; '.  Gives the
#: corpus commas, periods-runs, tabs, newlines, digit runs, and semicolons
#: — the exact text shapes the single-space split mis-tokenizes.
def _pretok_inject_spark(text):
    return F.replace(
        F.replace(text, F.lit(" a "), F.lit(", a...\t")),
        F.lit(" the "),
        F.lit("\n3.14 the; "),
    )


_PRETOK_INJECT_SQL = (
    "replace(replace(text, ' a ', ', a...' || chr(9)), "
    "' the ', chr(10) || '3.14 the; ')"
)


def q_bpe_pretok_count(spark, sf_dir):
    """Classes-pretokenized BPE counting certified cross-engine (r11
    VERDICT ask #2's 'done' bar): documents get punctuation / tabs /
    newlines / digit runs injected deterministically, then
    add_bpe_token_counts runs with pretokenize='classes' over a 148-merge
    list — past EXPR_MERGE_LIMIT, so impl='auto' takes the mapInPandas
    batch path whose pretokenizer is the unicodedata-category Python twin
    — while the DuckDB oracle pretokenizes the SAME injected text with
    regexp_extract_all on the SAME class pattern (RE2) and replays the
    SAME merge chain.  A value match pins all three pretokenizer
    implementations AND the merge machinery over class tokens.  The
    default ('ws') paths are untouched — bpe_batch_count/encode still
    certify them."""
    from tsatool_app_spark.functions.bpe import add_bpe_token_counts

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _pretok_inject_spark(F.col("text")).alias("text")
    )
    return (
        add_bpe_token_counts(docs, _BPE_PRETOK_MERGES, pretokenize="classes")
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


def _bpe_pretok_oracle() -> str:
    """_bpe_batch_oracle with the tok CTE swapped to the injected text +
    regexp_extract_all class pretokenizer, and the 148-merge chain."""
    from tsatool_app_spark.functions.bpe import PRETOK_CLASSES_RE

    enc = (
        "chr(31) || array_to_string(string_split(w, ''), "
        "chr(31)||chr(31)) || chr(31)"
    )
    ctes = [
        "tok AS (\n  SELECT doc_id,\n"
        f"         unnest(regexp_extract_all({_PRETOK_INJECT_SQL},"
        f" '{PRETOK_CLASSES_RE}')) AS w\n  FROM documents\n)",
        f"enc0 AS (\n  SELECT doc_id, w, {enc} AS rep FROM tok\n)",
    ]
    n_chunks = 0
    for start in range(0, len(_BPE_PRETOK_MERGES), 64):
        rep = "rep"
        for left, right in _BPE_PRETOK_MERGES[start : start + 64]:
            pat = f"chr(31)||'{left}'||chr(31)||chr(31)||'{right}'||chr(31)"
            new = f"chr(31)||'{left}{right}'||chr(31)"
            rep = f"replace({rep}, {pat}, {new})"
        n_chunks += 1
        ctes.append(
            f"enc{n_chunks} AS (\n  SELECT doc_id, w, {rep} AS rep "
            f"FROM enc{n_chunks - 1}\n)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
cnt AS (
  SELECT doc_id,
         SUM(CASE WHEN contains(w, chr(31)) THEN 1
                  ELSE (length(rep) - length(replace(rep, chr(31)||chr(31), ''))) // 2 + 1
             END) AS nt
  FROM enc{n_chunks} GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(c.nt, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN cnt c USING (doc_id)
ORDER BY doc_id"""


ORACLES["bpe_pretok_count"] = _bpe_pretok_oracle()
QUERIES["bpe_pretok_count"] = DriverQuery(
    q_bpe_pretok_count, ORACLES["bpe_pretok_count"]
)


def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture (functions/sampling.
    temperature_budget_mixture, r11 VERDICT ask #4): one total budget
    split across sources by supply^τ (τ=0.5 — between the XLM α=0.3 and
    proportional), then the epoch machinery per source.  All-integer
    except ONE pow per source, quantized through one floor at
    weight_scale=1e6; the oracle recomputes the ENTIRE allocation from
    live supply with the identical expression text (same IEEE op order),
    so every tier certifies the arithmetic — the τ=0/τ=1 exact
    degeneracies and the zero-supply drop are pytest-pinned
    (test_temperature_budget_mixture)."""
    from tsatool_app_spark.functions.sampling import (
        temperature_budget_mixture,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    mix = temperature_budget_mixture(docs, 60_000, 0.5)
    return mix.select(
        "doc_id", "source", "budget", "rem_q", "n_copies"
    ).orderBy("doc_id")


ORACLES["temperature_mixture"] = """
WITH counted AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS nt FROM documents
),
avail AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS a FROM counted GROUP BY source
  HAVING CAST(SUM(nt) AS BIGINT) > 0
),
mx AS (SELECT MAX(a) AS amax FROM avail),
weighted AS (
  SELECT source, a,
         CAST(floor(pow(a, 0.5) * 1000000 / pow(amax, 0.5)) AS BIGINT) AS wq
  FROM avail, mx
),
tot AS (SELECT SUM(wq) AS wsum FROM weighted),
plan AS (
  SELECT source, a,
         CAST(CAST(60000 AS BIGINT) * wq // wsum AS BIGINT) AS budget
  FROM weighted, tot
),
p2 AS (
  SELECT source, budget, budget // a AS fullep,
         CAST((budget % a) * 10000 // a AS BIGINT) AS rem_q
  FROM plan
),
copies AS (
  SELECT c.doc_id, c.source, p.budget, p.rem_q,
         CAST(p.fullep
              + CASE WHEN ('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 4))::INT
                          % 10000 < p.rem_q
                     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM counted c JOIN p2 p USING (source)
)
SELECT doc_id, source, budget, rem_q, n_copies
FROM copies WHERE n_copies > 0
ORDER BY doc_id"""

QUERIES["temperature_mixture"] = DriverQuery(
    q_temperature_mixture, ORACLES["temperature_mixture"]
)


def q_image_near_dup_survivors(spark, sf_dir):
    """Media near-dup composed INTO the survivor machinery (r11 VERDICT
    ask #5): the text family certifies pairs → connected_components →
    near_dedup_survivors end-to-end, but the media family previously
    stopped at pairs.  Same fixture as image_near_dup_pairs (md5-rendered
    corpus images for doc_id % 7 == 3, exact-dup composites
    9000205/9000206 of the lowest doc, planted constructed-distance trio
    9000201/9000202/9000203 at pairwise Hamming 1/2/3), then the REAL
    closure: pairs → pointer-jumping components → min-id survivor per
    cluster, counted-broadcast anti-join.  Generating truth makes
    survivors exactly predictable: per md5(text) cluster the min doc_id
    survives (so 9000205/9000206 drop in favor of the lowest base doc),
    and the multi-transform planted cluster — three DIFFERENT images
    linked only through Hamming-distance edges — collapses to
    9000201."""
    from tsatool_app_spark.functions.dedup import near_dedup_survivors
    from tsatool_app_spark.functions.multimodal import (
        image_dhash,
        image_near_dup_pairs,
        render_text_images,
        synthetic_dhash_image,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text")
    )
    lo = base.orderBy("doc_id").limit(1)
    docs = base.unionByName(
        lo.select(F.lit(9_000_205).cast("long").alias("doc_id"), "text")
    ).unionByName(
        lo.select(F.lit(9_000_206).cast("long").alias("doc_id"), "text")
    )
    planted = spark.createDataFrame(
        [
            (9_000_201, bytearray(synthetic_dhash_image())),
            (9_000_202, bytearray(synthetic_dhash_image((0,)))),
            (9_000_203, bytearray(synthetic_dhash_image((62, 63)))),
        ],
        "doc_id long, content binary",
    )
    media = render_text_images(docs).unionByName(planted)
    sigs = image_dhash(media, id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("dhash")
    capped = (
        sigs.withColumn("_gsz", F.count(F.lit(1)).over(w))
        .where(F.col("_gsz") <= 256)
        .drop("_gsz")
    )
    pairs = image_near_dup_pairs(capped, id_col="doc_id")
    return near_dedup_survivors(
        capped.select("doc_id"), pairs, id_col="doc_id"
    ).orderBy("doc_id")


ORACLES["image_near_dup_survivors"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3
),
lo AS (SELECT text FROM base ORDER BY doc_id LIMIT 1),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT 9000205, text FROM lo
  UNION ALL SELECT 9000206, text FROM lo
),
capped AS (
  SELECT doc_id, md5(text) AS h FROM corpus
  QUALIFY count(*) OVER (PARTITION BY md5(text)) <= 256
),
keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS rep FROM capped
  ) WHERE doc_id = rep
)
SELECT doc_id FROM keep
UNION ALL SELECT CAST(9000201 AS BIGINT)
ORDER BY doc_id"""

QUERIES["image_near_dup_survivors"] = DriverQuery(
    q_image_near_dup_survivors, ORACLES["image_near_dup_survivors"]
)


def q_bpe_pretok_merges(spark, sf_dir):
    """BPE TRAINING over the classes-pretokenized vocabulary — closes the
    pretokenized true-token story end to end (vocab → merges; the count
    side is bpe_pretok_count): the same punctuation/tab/digit injection,
    plus 'e ' → 'e. ' (every e-final word grows a glued period), then 6
    training rounds.  The extra injection makes the row STRONGLY
    discriminating — letter-letter adjacencies are invariant under class
    splitting (classes only cuts at class boundaries), so without it the
    first 20 merges were measured IDENTICAL between the two
    pretokenizers; with it, ('e', '.') lands at ws rank 2 (count 3456 at
    sf0.01) while under classes the period detaches and the pair never
    exists, so a silent fallback to the space split flips every merge
    from rank 2 on.  The oracle re-derives every argmax from a
    regexp_extract_all vocab with the identical recurrence (same
    tie-break, same separator replace), pinning the pretokenizer ACROSS
    the training path, not just encoding."""
    from tsatool_app_spark.functions.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            _pretok_inject_spark(F.col("text")), F.lit("e "), F.lit("e. ")
        ).alias("text"),
    )
    return bpe_train(docs, n_merges=6, pretokenize="classes")


def _bpe_pretok_merges_oracle() -> str:
    from tsatool_app_spark.functions.bpe import PRETOK_CLASSES_RE

    tok = (
        f"unnest(regexp_extract_all(replace({_PRETOK_INJECT_SQL},"
        f" 'e ', 'e. '), '{PRETOK_CLASSES_RE}'))"
    )
    return _bpe_oracle_sql(6, tok_sql=tok)


ORACLES["bpe_pretok_merges"] = _bpe_pretok_merges_oracle()
QUERIES["bpe_pretok_merges"] = DriverQuery(
    q_bpe_pretok_merges, ORACLES["bpe_pretok_merges"]
)


# ---------------------------------------------------------------------------
# Driver correctness-window ordering — manifest-driven (round 5).
#
# The driver's per-round gate hashes only the FIRST `window_size` entries
# of this registry.  Which queries occupy that window is CONFIG, not code:
# `driver_window.json` (same directory) holds the ordered `front` list and
# documents the rotation policy (never-hashed and red queries first, new
# registrations join the next round's front, then a re-hash cycle over the
# longest-uncertified names so previously-green queries stay
# driver-visible).  Every name in the manifest must exist in the registry —
# a stale manifest fails loudly at import instead of silently shrinking
# driver coverage (round-4 advisory).  Pure reordering — no query or
# oracle changes.
import json as _json
from pathlib import Path as _Path

_MANIFEST_PATH = _Path(__file__).with_name("driver_window.json")
if _MANIFEST_PATH.exists():
    _manifest = _json.loads(_MANIFEST_PATH.read_text())
    _front = _manifest["front"]
    _unknown = [n for n in _front if n not in QUERIES]
    if _unknown:
        raise ValueError(
            f"driver_window.json lists unknown queries {_unknown}; "
            "update the manifest when renaming/removing registry entries"
        )
    # Manifest invariant (ADVICE r12): front IS the hashed window — any
    # consumer hashing front[:window_size] directly must see exactly
    # window_size distinct names, not a deduped-by-luck superset.
    if len(_front) != len(set(_front)) or len(_front) != _manifest.get(
        "window_size", len(_front)
    ):
        raise ValueError(
            "driver_window.json front must hold exactly window_size "
            f"distinct names (got {len(_front)} entries, "
            f"{len(set(_front))} distinct)"
        )
    _front_set = set(_front)
    QUERIES = {
        **{n: QUERIES[n] for n in _front},
        **{k: v for k, v in QUERIES.items() if k not in _front_set},
    }
