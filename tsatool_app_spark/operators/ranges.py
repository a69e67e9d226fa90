"""pack_ranges — observations → tri-state validity time ranges.

Replicates the semantics of the reference's PL/pgSQL table function
``pack_ranges(p_obs_relation, p_maxminutes, p_statid, p_seid, p_operator,
p_seval)`` (/root/reference/database/01_init_db.sql:121-202), the semantic
heart of the engine (SURVEY §2.5 W1-W5):

W1  next-timestamp: each observation is valid [tfrom, next tfrom); the last
    observation (no successor) is dropped (01_init_db.sql:136-145, 156).
W2  gap truncation: validity is capped at ``max_minutes``; time beyond the cap
    is *uncovered* → nodata (01_init_db.sql:146-156).
W3  null sentinel: istrue encoded as int with NULL→-1 so unknown compares
    equal to itself during run merging (01_init_db.sql:157-160).
W4  run-boundary detection via lag/lead (01_init_db.sql:161-172).
W5  run merge: one output row per run of equal sentinel, [min vfrom, max
    vuntil). ⚠ The reference merges runs on VALUE ONLY, not continuity —
    two same-valued ranges separated by an uncovered gap are merged across the
    gap; truncation survives only at the *end* of a run (the code at
    01_init_db.sql:157-199 contradicts its own comment at :99-101; we
    replicate the code, which is what any golden output reflects).

Spark-first design — differences from the reference, none semantic:

- The reference instantiates the whole pipeline once per (statid, seid) via
  string-interpolated SQL against a session temp view. Here the windows are
  partitioned by the key columns, so ONE lazy plan computes every sensor's
  ranges in a single pass: one shuffle for the window, one partial-agg shuffle
  for the run merge. At 100 TB this is the difference between O(#sensors)
  sequential queries and one parallel job.
- Predicate evaluation is a Catalyst Column expression (whole-stage codegen),
  not SQL text splicing — the injection-safety dance the reference needs
  (block.py:93-111 validating what 01_init_db.sql:140 splices) disappears.

Output schema: key columns + (vfrom timestamp, vuntil timestamp, istrue
boolean nullable); ranges are half-open, ordered, pairwise disjoint per key,
and adjacent ranges differ in istrue (property-tested in tests/).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Comparison operators of the condition DSL (block.py:93-111): `=`, `<>`,
#: `>`, `<`, `>=`, `<=`, `in`. `between` is explicitly unsupported in the
#: reference (block.py docstring) and therefore also here.
_BINARY_OPS = {
    "=": lambda c, v: c == v,
    "<>": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    "<": lambda c, v: c < v,
    ">=": lambda c, v: c >= v,
    "<=": lambda c, v: c <= v,
}

SUPPORTED_OPERATORS = tuple(_BINARY_OPS) + ("in",)


def predicate_column(value_col: Column, operator: str, value) -> Column:
    """Build the sensor-value predicate P3 (SURVEY §2.2) as a Column.

    ``in`` takes a sequence (the DSL's parenthesized tuple literal,
    block.py:163-172); all others take a scalar.
    """
    op = operator.strip().lower()
    if op == "in":
        if not isinstance(value, (list, tuple, set)):
            raise ValueError(f"'in' operator requires a sequence, got {value!r}")
        return value_col.isin(*[float(v) for v in value])
    if op not in _BINARY_OPS:
        raise ValueError(
            f"unsupported operator {operator!r}; supported: {SUPPORTED_OPERATORS}"
        )
    return _BINARY_OPS[op](value_col, float(value))


def pack_ranges_all_keys(
    obs: DataFrame,
    max_minutes: int,
    operator: str,
    value,
    *,
    key_cols: Sequence[str] = ("statid", "seid"),
    time_col: str = "tfrom",
    value_col: str = "seval",
) -> DataFrame:
    """pack_ranges over EVERY key group in one windowed pass.

    Returns ``key_cols + (vfrom, vuntil, istrue)``. This is the scale path:
    windows partition by the key, so a 1000-executor cluster packs all
    stations × sensors concurrently with exactly two shuffles total.
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(time_col)

    # W1: validity interval [tfrom, next tfrom); last row per key dropped.
    stepped = obs.select(
        *keys,
        F.col(time_col).alias("vfrom"),
        F.lead(time_col).over(w).alias("next_t"),
        predicate_column(F.col(value_col), operator, value).alias("istrue"),
    ).where(F.col("next_t").isNotNull())

    # W2: cap validity at max_minutes — beyond the cap is uncovered (nodata).
    capped = stepped.select(
        *keys,
        "vfrom",
        F.least(
            F.col("next_t"),
            F.col("vfrom") + F.expr(f"INTERVAL {int(max_minutes)} MINUTES"),
        ).alias("vuntil"),
        "istrue",
    )

    # W3: sentinel so unknown==unknown during run comparison.
    sent = capped.withColumn(
        "s", F.coalesce(F.col("istrue").cast("int"), F.lit(-1))
    )

    # W4→W5 as gaps-and-islands: a change-flag cumulative sum assigns an
    # island id to each run of equal sentinel; the reference's
    # keep-first/last-then-stitch dance (01_init_db.sql:161-189) collapses to
    # one groupBy. Value-only comparison ⇒ gap-bridging, as in the reference.
    wk = Window.partitionBy(*keys).orderBy("vfrom")
    chg = F.when(
        F.lag("s").over(wk).isNull() | (F.lag("s").over(wk) != F.col("s")), 1
    ).otherwise(0)
    islands = sent.withColumn(
        "island", F.sum(chg).over(wk.rowsBetween(Window.unboundedPreceding, 0))
    )

    merged = (
        islands.groupBy(*keys, "island")
        .agg(
            F.min("vfrom").alias("vfrom"),
            F.max("vuntil").alias("vuntil"),
            F.min("s").alias("s"),  # constant within an island
        )
        .select(
            *keys,
            "vfrom",
            "vuntil",
            # decode sentinel back to tri-state boolean (01_init_db.sql:190-199)
            F.when(F.col("s") == 1, F.lit(True))
            .when(F.col("s") == 0, F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
            .alias("istrue"),
        )
    )
    return merged


def prepare_stepped_obs(
    obs: DataFrame,
    max_minutes: int,
    *,
    key_cols: Sequence[str] = ("statid", "seid"),
    time_col: str = "tfrom",
    value_col: str = "seval",
) -> DataFrame:
    """Predicate-INDEPENDENT prefix of pack_ranges: W1 (lead) + W2 (cap).

    Returns ``key_cols + (vfrom, vuntil, seval)``. Because stepping does not
    depend on the block predicate, a whole sheet of conditions can compute
    this ONCE over all its sensor keys — one scan + one shuffle — cache it,
    and derive every block's ranges from it with
    :func:`pack_ranges_from_stepped` (filter + windows over the same
    partitioning, no further exchange of raw data). This is the difference
    between O(#blocks) scans of a 100 TB table and one.
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(time_col)
    return (
        obs.select(
            *keys,
            F.col(time_col).alias("vfrom"),
            F.lead(time_col).over(w).alias("next_t"),
            F.col(value_col).alias("seval"),
        )
        .where(F.col("next_t").isNotNull())
        .select(
            *keys,
            "vfrom",
            F.least(
                F.col("next_t"),
                F.col("vfrom") + F.expr(f"INTERVAL {int(max_minutes)} MINUTES"),
            ).alias("vuntil"),
            "seval",
        )
    )


def pack_ranges_from_stepped(
    stepped: DataFrame,
    operator: str,
    value,
    *,
    key_cols: Sequence[str] = ("statid", "seid"),
) -> DataFrame:
    """W3-W5 on prepared stepped intervals: predicate → sentinel → islands
    merge. Same output as pack_ranges_all_keys."""
    keys = [F.col(k) for k in key_cols]
    sent = stepped.select(
        *keys,
        "vfrom",
        "vuntil",
        F.coalesce(
            predicate_column(F.col("seval"), operator, value).cast("int"), F.lit(-1)
        ).alias("s"),
    )
    wk = Window.partitionBy(*keys).orderBy("vfrom")
    chg = F.when(
        F.lag("s").over(wk).isNull() | (F.lag("s").over(wk) != F.col("s")), 1
    ).otherwise(0)
    islands = sent.withColumn(
        "island", F.sum(chg).over(wk.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(*keys, "island")
        .agg(
            F.min("vfrom").alias("vfrom"),
            F.max("vuntil").alias("vuntil"),
            F.min("s").alias("s"),
        )
        .select(
            *keys,
            "vfrom",
            "vuntil",
            F.when(F.col("s") == 1, F.lit(True))
            .when(F.col("s") == 0, F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
            .alias("istrue"),
        )
    )


def pack_ranges_multi(
    stepped: DataFrame,
    block_specs: Sequence[tuple],
    *,
    key_cols: Sequence[str] = ("statid", "seid"),
) -> DataFrame:
    """Pack EVERY block of a whole sheet in ONE windowed pass.

    ``block_specs``: (block_id, statid, seid, operator, value) per block.
    Each row of ``stepped`` (from prepare_stepped_obs) looks its sensor key
    up in a literal nested map, station then sensor, and is exploded once
    per block id found there — a row is duplicated only for blocks sharing
    its key, and a row of an unknown key is dropped. Then a single
    generated CASE evaluates each block's predicate, and the islands merge
    runs partitioned by (sensor key, block_id). A block reads one sensor
    key, so that partitioning is the stepping pass's own: for all blocks,
    however many the sheet has, the pack adds NO shuffle. Output:
    (block_id, vfrom, vuntil, istrue) — small (runs, not readings); cache
    THIS, not the stepped readings.

    The lookup is an expression inside the plan, not a driver-side
    relation: a ``createDataFrame`` table is parallelized through Python
    workers, and each broadcast of it costs a job. Map lookups scan keys
    linearly, so nesting keeps the per-reading cost at (#stations +
    #sensors of one station), not the sheet's block count.

    The reference executes one pack_ranges SQL call per block
    (condition.py:329-354): O(#blocks) scans. This is the 100 TB shape:
    one scan and one shuffle per sheet.
    """
    k0, k1 = key_cols
    t0, t1 = dict(stepped.dtypes)[k0], dict(stepped.dtypes)[k1]
    by_key: dict = {}
    for b, sid, sev, _, _ in block_specs:
        by_key.setdefault(sid, {}).setdefault(sev, []).append(int(b))
    key_map = F.create_map(
        *[
            col
            for sid, sensors in by_key.items()
            for col in (
                F.lit(sid).cast(t0),
                F.create_map(
                    *[
                        col
                        for sev, bids in sensors.items()
                        for col in (
                            F.lit(sev).cast(t1),
                            F.array(*[F.lit(b) for b in bids]),
                        )
                    ]
                ),
            )
        ]
    )
    joined = stepped.select(
        k0,
        k1,
        F.explode(F.element_at(F.element_at(key_map, F.col(k0)), F.col(k1))).alias(
            "block_id"
        ),
        "vfrom",
        "vuntil",
        "seval",
    )

    pred = None
    for b, _, _, op, value in block_specs:
        branch = predicate_column(F.col("seval"), op, value)
        pred = (
            F.when(F.col("block_id") == int(b), branch)
            if pred is None
            else pred.when(F.col("block_id") == int(b), branch)
        )
    sent = joined.select(
        k0,
        k1,
        "block_id",
        "vfrom",
        "vuntil",
        F.coalesce(pred.cast("int"), F.lit(-1)).alias("s"),
    )
    wk = Window.partitionBy(k0, k1, "block_id").orderBy("vfrom")
    chg = F.when(
        F.lag("s").over(wk).isNull() | (F.lag("s").over(wk) != F.col("s")), 1
    ).otherwise(0)
    islands = sent.withColumn(
        "island", F.sum(chg).over(wk.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(k0, k1, "block_id", "island")
        .agg(
            F.min("vfrom").alias("vfrom"),
            F.max("vuntil").alias("vuntil"),
            F.min("s").alias("s"),
        )
        .select(
            "block_id",
            "vfrom",
            "vuntil",
            F.when(F.col("s") == 1, F.lit(True))
            .when(F.col("s") == 0, F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
            .alias("istrue"),
        )
    )


def pack_ranges(
    obs: DataFrame,
    max_minutes: int,
    statid,
    seid,
    operator: str,
    value,
    *,
    key_cols: Sequence[str] = ("statid", "seid"),
    time_col: str = "tfrom",
    value_col: str = "seval",
) -> DataFrame:
    """Reference-signature pack_ranges: one (statid, seid) key.

    Mirrors ``pack_ranges(p_obs_relation, p_maxminutes, p_statid, p_seid,
    p_operator, p_seval)`` (01_init_db.sql:121-134). The key filter is applied
    FIRST so Catalyst pushes it into the Parquet scan (P2), then the all-keys
    plan runs over the single remaining group. Output: (vfrom, vuntil, istrue).
    """
    key_vals = dict(zip(key_cols, (statid, seid)))
    filtered = obs.where(
        (F.col(key_cols[0]) == F.lit(statid)) & (F.col(key_cols[1]) == F.lit(seid))
    )
    packed = pack_ranges_all_keys(
        filtered,
        max_minutes,
        operator,
        value,
        key_cols=key_cols,
        time_col=time_col,
        value_col=value_col,
    )
    return packed.select("vfrom", "vuntil", "istrue")
