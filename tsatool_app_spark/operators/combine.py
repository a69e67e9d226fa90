"""Condition combiner: boundary segmentation + block alignment + master eval.

Reference semantics (/root/reference/tsa/condition.py:317-414, SURVEY §2.5 W6,
§2.3 J4, §2.8):

1. Collect every block's range endpoints, dedup, sort, pair adjacent with
   LEAD → ``master_ranges``, the finest partition refinement of the timeline
   (condition.py:364-380).
2. LEFT JOIN each block's ranges onto master_ranges on tstzrange overlap
   ``&&`` — because master boundaries are exactly the union of block
   boundaries and block ranges are disjoint half-open, each master range
   matches ≤1 row per block: it is an *alignment*, not a general interval
   join (condition.py:381-389).
3. Evaluate ``master = <boolean expr over block aliases>`` with Kleene
   three-valued logic (condition.py:390-391; NULL semantics are a documented
   contract, README.md:39). Spark SQL booleans have identical NULL semantics,
   so the expression transliterates directly.

Spark-first design — the alignment join is rewritten as a carry-forward
window (SURVEY §2.3 J4 option b): each block's ranges become a start and an
end event; a pivot yields one row per timeline point (the event times ARE
the boundary union, so no separate point set or grid is needed) with one
event column per block; ``last(_, ignorenulls)`` over the condition's
points carries each block's state forward. This is O(n log n) per condition
with NO theta join (Spark would plan the `&&` overlap as
BroadcastNestedLoopJoin — O(n²) and a 100 TB cliff), and every step runs
within one condition, so a whole level of conditions shuffles ONCE, on
cond_id. Per-condition timelines are small (10²-10⁴ ranges after packing —
SURVEY §4), so each condition's window partition is bounded by design. For
*general* interval joins (arbitrary overlap, not alignment) see
operators/intervals.py.

The reference's single-block shortcut (condition.py:355-363) indexes
``blocks.keys()[0]`` — a latent Py3 crash; the intent is clear from the
multi-block path and is implemented correctly here (SURVEY §7.2.4).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Sentinel encoding for carry-forward state: block istrue TRUE/FALSE/unknown →
# 1/0/-1 (mirrors W3, 01_init_db.sql:157-160); -2 = "range ended, no coverage"
# so an end-event overwrites the carried value. Decode: 1→true, 0→false,
# everything else → NULL (matches the reference's LEFT JOIN producing NULL for
# both uncovered master ranges and covered-but-unknown ones).
_ENC_GAP = -2

# combine_blocks' condition id: the multi-condition plan under one key.
_ONE_CID = "c"


def _encode(istrue_col):
    return F.coalesce(istrue_col.cast("int"), F.lit(-1))


#: Public name for callers building pre-tagged input for combine_tagged.
encode_tristate = _encode


def boundary_segmentation(tagged_ranges: DataFrame) -> DataFrame:
    """W6: all blocks' endpoints → finest timeline refinement.

    Input: ranges with at least (vfrom, vuntil). Output: (vfrom, vuntil) —
    adjacent pairs of the deduped sorted endpoint set; the trailing open point
    is dropped (condition.py:364-380: unnest(array[lower, upper]) → UNION →
    LEAD(vt) OVER (ORDER BY vt) → drop NULL).
    """
    pts = tagged_ranges.select(
        F.explode(F.array("vfrom", "vuntil")).alias("vt")
    ).distinct()
    w = Window.orderBy("vt")
    return (
        pts.select(F.col("vt").alias("vfrom"), F.lead("vt").over(w).alias("vuntil"))
        .where(F.col("vuntil").isNotNull())
    )


def combine_blocks(blocks: dict[str, DataFrame], alias_condition: str) -> DataFrame:
    """Align per-block ranges on the shared boundary timeline and evaluate the
    master expression.

    ``blocks``: alias → DataFrame(vfrom, vuntil, istrue) as produced by
    pack_ranges (primary) or a prior condition's (vfrom, vuntil, master)
    renamed (secondary — block.py:195-223).
    ``alias_condition``: boolean expression over the aliases, e.g.
    ``"(a1 AND a2) OR NOT a3"`` (condition.py:271-285).

    Returns (vfrom, vuntil, vdiff_s, <alias...>, master) — the reference's
    per-condition temp-table schema (condition.py:349-391) with ``vdiff`` as
    seconds (LongType) instead of a Postgres interval (SURVEY §1.4). Two or
    more blocks run :func:`combine_blocks_multi` as a one-condition plan.
    """
    if not blocks:
        raise ValueError("combine_blocks requires at least one block")
    aliases = list(blocks)

    if len(aliases) == 1:
        # Single-block shortcut (condition.py:355-363, bug-fixed): the block's
        # ranges ARE the master ranges.
        alias = aliases[0]
        df = blocks[alias]
        return df.select(
            "vfrom",
            "vuntil",
            (F.col("vuntil").cast("long") - F.col("vfrom").cast("long")).alias(
                "vdiff_s"
            ),
            F.col("istrue").alias(alias),
            F.col("istrue").alias("master"),
        )

    multi = combine_blocks_multi({_ONE_CID: blocks}, {_ONE_CID: alias_condition})
    return condition_view(multi, _ONE_CID, aliases)


def combine_blocks_multi(
    cond_blocks: "dict[str, dict[str, DataFrame]]",
    alias_conditions: "dict[str, str]",
) -> DataFrame:
    """Combine MANY conditions in ONE plan.

    ``cond_blocks``: cond_id → (alias → ranges DF); ``alias_conditions``:
    cond_id → boolean expression over that condition's aliases.

    Every step of :func:`combine_tagged` runs within one condition, so a
    sheet of N conditions shuffles its ranges ONCE, on cond_id, the same
    as one condition, with per-condition timelines as independent window
    partitions. Block columns live in a global namespace
    ``<cond_id>__<alias>`` (aliases are only unique within a condition);
    the master expression is rewritten accordingly and evaluated per
    condition via a CASE over cond_id.

    Returns (cond_id, vfrom, vuntil, vdiff_s, <cond__alias...>, master) —
    filter on cond_id and rename to recover each condition's table.
    """
    if not cond_blocks:
        raise ValueError("combine_blocks_multi requires at least one condition")

    tagged = reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.lit(cid).alias("cond_id"),
                F.lit(f"{cid}__{a}").alias("ualias"),
                "vfrom",
                "vuntil",
                _encode(F.col("istrue")).alias("s_start"),
            )
            for cid, blocks in cond_blocks.items()
            for a, df in blocks.items()
        ],
    )
    cond_aliases = {cid: list(blocks) for cid, blocks in cond_blocks.items()}
    return combine_tagged(tagged, alias_conditions, cond_aliases)


def combine_tagged(
    tagged: DataFrame,
    alias_conditions: "dict[str, str]",
    cond_aliases: "dict[str, list[str]]",
) -> DataFrame:
    """Core of combine_blocks_multi, taking a PRE-TAGGED ranges relation
    ``(cond_id, ualias, vfrom, vuntil, s_start)`` where ualias =
    ``<cond_id>__<alias>`` and s_start is the sentinel-encoded tri-state.

    Callers that already hold an id-keyed ranges relation (the runner's
    pack_ranges_multi output) build ``tagged`` with one literal-map lookup
    on the block id instead of a per-block union — Catalyst analysis cost
    stays constant in the number of blocks.

    The plan has ONE exchange: ``tagged`` is hash-partitioned on cond_id,
    and the pivot's aggregates and the window all reuse that partitioning.
    It is exact because:

    - a block's ranges are disjoint, so a (block, point) holds at most one
      start (encoded -1/0/1) and one end (-2): ``max`` makes the start win,
      the hand-over of adjacent half-open ranges;
    - the timeline points are exactly the event times (the boundary union);
    - carrying each block's last event forward over ALL of its condition's
      points equals carrying it over that block's own alignment.
    """
    ualias = {
        (cid, a): f"{cid}__{a}" for cid, aliases in cond_aliases.items() for a in aliases
    }
    all_ucols = list(ualias.values())

    events = tagged.repartition("cond_id").select(
        "cond_id",
        "ualias",
        F.inline(
            F.array(
                F.struct(F.col("vfrom").alias("vt"), F.col("s_start").alias("s")),
                F.struct(F.col("vuntil").alias("vt"), F.lit(_ENC_GAP).alias("s")),
            )
        ),
    )
    wide = events.groupBy("cond_id", "vt").pivot("ualias", all_ucols).agg(F.max("s"))

    # Window, decode and master as THREE parser calls instead of several
    # Column-builder round trips per block column: each py4j call costs
    # ~1-3 ms on the driver, and at 23 block columns the per-column chains
    # were a measurable slice of the sheet's plan-construction wall
    # (profiled r7).
    win = "OVER (PARTITION BY cond_id ORDER BY vt"
    ranged = wide.selectExpr(
        "cond_id",
        "vt AS vfrom",
        f"lead(vt) {win}) AS vuntil",
        *[
            f"last(`{u}`, true) {win} ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND CURRENT ROW) AS `{u}`"
            for u in all_ucols
        ],
    ).where("vuntil IS NOT NULL")

    branches = []
    for cid, aliases in cond_aliases.items():
        expr_str = alias_conditions[cid]
        for a in sorted(aliases, key=len, reverse=True):
            # replacement via lambda: a literal, so backslashes in the
            # cond_id (part of the ualias) aren't re-parsed as \-escapes
            u = f"`{ualias[(cid, a)]}`"
            expr_str = re.sub(rf"\b{re.escape(a)}\b", lambda _m, u=u: u, expr_str)
        # Spark SQL string literals use BACKSLASH escapes (not the
        # SQL-standard doubled quote): escape backslash first, then the
        # quote, so arbitrary public-API cond_ids can't break the CASE.
        cid_lit = cid.replace("\\", "\\\\").replace("'", "\\'")
        branches.append(f"WHEN cond_id = '{cid_lit}' THEN ({expr_str})")
    return ranged.selectExpr(
        "cond_id",
        "vfrom",
        "vuntil",
        "(CAST(vuntil AS LONG) - CAST(vfrom AS LONG)) AS vdiff_s",
        # CASE with no ELSE: the -1/-2 sentinels, and a block with no
        # event yet, decode to a NULL boolean.
        *[
            f"CASE WHEN `{u}` = 1 THEN true WHEN `{u}` = 0 THEN false END AS `{u}`"
            for u in all_ucols
        ],
    ).selectExpr("*", "CASE " + " ".join(branches) + " END AS master")


def condition_view(
    multi_df: DataFrame, cond_id: str, aliases: "list[str]"
) -> DataFrame:
    """Recover one condition's table (vfrom, vuntil, vdiff_s, <alias...>,
    master) from a combine_blocks_multi result."""
    return multi_df.where(F.col("cond_id") == cond_id).select(
        "vfrom",
        "vuntil",
        "vdiff_s",
        *[F.col(f"{cond_id}__{a}").alias(a) for a in aliases],
        "master",
    )
