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
within one condition, so a whole sheet of conditions shuffles ONCE, on
cond_id — secondaries included, which read their sources' blocks on their
own timelines (combine_tagged). Per-condition timelines are small (10²-10⁴
ranges after packing — SURVEY §4), so each condition's window partition is
bounded by design. For *general* interval joins (arbitrary overlap, not
alignment) see operators/intervals.py.

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

    cond_refs: "dict[str, dict[str, int]]" = {}
    parts = []
    for cid, blocks in cond_blocks.items():
        cond_refs[cid] = {}
        for a, df in blocks.items():
            bid = cond_refs[cid][a] = len(parts)
            parts.append(
                df.select(
                    F.lit(cid).alias("cond_id"),
                    F.lit(bid).alias("block_id"),
                    "vfrom",
                    "vuntil",
                    _encode(F.col("istrue")).alias("s_start"),
                )
            )
    tagged = reduce(DataFrame.unionByName, parts)
    return combine_tagged(tagged, alias_conditions, cond_refs)


def combine_tagged(
    tagged: DataFrame,
    alias_conditions: "dict[str, str]",
    cond_refs: "dict[str, dict[str, int | str]]",
) -> DataFrame:
    """Core of combine_blocks_multi and of the runner's sheet combine,
    taking a PRE-TAGGED ranges relation ``(cond_id, block_id, vfrom,
    vuntil, s_start)``, s_start being the sentinel-encoded tri-state.

    ``cond_refs``: cond_id → (alias → what the alias reads): an int is a
    block_id of ``tagged``; a str is another condition's cond_id, whose
    master the alias reads (a secondary block, block.py:195-207). Sources
    are listed before the conditions that read them. Under each cond_id,
    ``tagged`` holds the ranges of every block the condition reads,
    directly or through its sources, transitively (its closure).

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
      points equals carrying it over that block's own alignment;
    - a source's master, evaluated on a reader's finer timeline, equals
      the source's runs read as a block: the source's runs span exactly
      its closure's first to last event point, and outside that span all
      of its blocks are NULL, so its master is NULL there too — the
      grammar has no constants, and a Kleene formula over NULLs is NULL.
      Each source's master is computed once per row, as a column its
      readers reference, so plan size stays linear in the sheet (textual
      substitution would double a diamond's expression at every level).
    """
    bids = sorted(
        {r for refs in cond_refs.values() for r in refs.values() if isinstance(r, int)}
    )

    events = tagged.repartition("cond_id").select(
        "cond_id",
        "block_id",
        F.inline(
            F.array(
                F.struct(F.col("vfrom").alias("vt"), F.col("s_start").alias("s")),
                F.struct(F.col("vuntil").alias("vt"), F.lit(_ENC_GAP).alias("s")),
            )
        ),
    )
    wide = events.groupBy("cond_id", "vt").pivot("block_id", bids).agg(F.max("s"))

    # Window, decode and master as parser calls instead of several
    # Column-builder round trips per block column: each py4j call costs
    # ~1-3 ms on the driver, and at 23 block columns the per-column chains
    # were a measurable slice of the sheet's plan-construction wall
    # (profiled r7).
    win = "OVER (PARTITION BY cond_id ORDER BY vt"
    out = (
        wide.selectExpr(
            "cond_id",
            "vt AS vfrom",
            f"lead(vt) {win}) AS vuntil",
            *[
                f"last(`{b}`, true) {win} ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND CURRENT ROW) AS _b{b}"
                for b in bids
            ],
        )
        .where("vuntil IS NOT NULL")
        .selectExpr(
            "cond_id",
            "vfrom",
            "vuntil",
            "(CAST(vuntil AS LONG) - CAST(vfrom AS LONG)) AS vdiff_s",
            # CASE with no ELSE: the -1/-2 sentinels, and a block with no
            # event yet, decode to a NULL boolean.
            *[
                f"CASE WHEN _b{b} = 1 THEN true WHEN _b{b} = 0 THEN false END AS _b{b}"
                for b in bids
            ],
        )
    )

    col: dict[str, str] = {}  # source cond_id -> the column of its master

    def ref_col(r):
        return col[r] if isinstance(r, str) else f"_b{r}"

    def master(cid):
        refs = cond_refs[cid]
        pat = "|".join(re.escape(a) for a in sorted(refs, key=len, reverse=True))
        # one pass, so a substituted column name is never re-matched
        return re.sub(
            rf"\b({pat})\b", lambda m: ref_col(refs[m.group(1)]), alias_conditions[cid]
        )

    # One projection per dependency depth: a source's master column is
    # defined one projection below its readers'.
    sources = {r for refs in cond_refs.values() for r in refs.values() if isinstance(r, str)}
    depth: dict[str, int] = {}
    stages: dict[int, list[str]] = {}
    for cid, refs in cond_refs.items():
        depth[cid] = max((depth[r] + 1 for r in refs.values() if isinstance(r, str)), default=0)
        if cid in sources:
            col[cid] = f"_m{len(col)}"
            stages.setdefault(depth[cid], []).append(f"({master(cid)}) AS {col[cid]}")
    for d in sorted(stages):
        out = out.selectExpr("*", *stages[d])

    branches = []
    for cid in cond_refs:
        # Spark SQL string literals use BACKSLASH escapes (not the
        # SQL-standard doubled quote): escape backslash first, then the
        # quote, so arbitrary public-API cond_ids can't break the CASE.
        cid_lit = cid.replace("\\", "\\\\").replace("'", "\\'")
        branches.append(f"WHEN cond_id = '{cid_lit}' THEN ({col.get(cid) or master(cid)})")
    return out.selectExpr(
        "cond_id",
        "vfrom",
        "vuntil",
        "vdiff_s",
        *[
            f"{ref_col(r)} AS `{cid}__{a}`"
            for cid, refs in cond_refs.items()
            for a, r in refs.items()
        ],
        "CASE " + " ".join(branches) + " END AS master",
    )


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
