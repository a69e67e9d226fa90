"""Analysis lifecycle orchestration (SURVEY §3).

Reference structure (one level per input granularity):

- AnalysisCollection (workbook) → CondCollection (sheet, one shared
  [time_from, time_until] window) → Condition (row) → Block (term).
- The reference pins each sheet to one DB connection and materializes
  session temp tables, running primaries before secondaries in user row
  order (cond_collection.py:166-187) — secondary-on-secondary correctness
  RELIES on user ordering (`:169-171`).

Spark-first changes (no semantic impact, SURVEY §7.4):

- conditions are lazy DataFrames; "temp tables" are just cached DFs;
- secondary dependencies get a REAL topological sort with cycle detection —
  a strict improvement that preserves all accepted inputs;
- the shared time-windowed observations DF (obs_main, P1) is built once per
  collection and cached; Catalyst pushes the window filter into the scan;
- sheets (collections) are independent Spark jobs, parallelizable.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, time, timedelta
from functools import reduce
from graphlib import CycleError, TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsatool_app_spark.dsl.condition import ConditionSpec
from tsatool_app_spark.dsl.errors import ErrorCollection
from tsatool_app_spark.operators.combine import (
    combine_tagged,
    condition_view,
    encode_tristate,
)
from tsatool_app_spark.operators.ranges import (
    pack_ranges_multi,
    prepare_stepped_obs,
)
from tsatool_app_spark.operators.summary import validity_summary

#: Reading-validity cap in minutes, hard-coded in the reference at
#: block.py:218 (p_maxminutes := 30).
DEFAULT_MAX_MINUTES = 30


@dataclass(eq=False)  # identity-hashed: readers group conditions by level
class LevelResult:
    """One topological level's shared relations, the same object on every
    condition of the level: report and summary reads then make one plan
    (and one collect) per LEVEL instead of one per condition."""

    runs: DataFrame  # (cond_id, vfrom, vuntil, vdiff_s, <cond_id>__<alias>..., master)
    summary: DataFrame  # cond_id-grouped validity rollup (cond_id + A3 columns)
    aliases: "dict[str, list[str]]"  # cond_id -> block aliases, column order


@dataclass
class ConditionResult:
    spec: ConditionSpec
    ranges: DataFrame | None = None  # (vfrom, vuntil, vdiff_s, <aliases...>, master)
    summary: DataFrame | None = None  # one-row validity rollup (A3)
    level: LevelResult | None = None  # the level this condition ran in


@dataclass
class CondCollection:
    """One sheet: conditions sharing a [time_from, time_until] window.

    The sheet window semantics (cond_collection.py:39-45): start date floored
    to 00:00:00, end date extended to 23:59:59, both INCLUSIVE (P1:
    tfrom BETWEEN t0 AND t1).
    """

    name: str
    time_from: datetime
    time_until: datetime
    conditions: "dict[str, ConditionSpec]" = field(default_factory=dict)
    errors: ErrorCollection = field(default=None)  # type: ignore[assignment]

    def __post_init__(self):
        self.time_from = datetime.combine(self.time_from.date(), time.min)
        self.time_until = datetime.combine(self.time_until.date(), time(23, 59, 59))
        self.errors = ErrorCollection(f"COLLECTION <{self.name}>")

    @classmethod
    def from_rows(
        cls,
        name: str,
        time_from: datetime,
        time_until: datetime,
        rows: list[tuple[str, str, str]],
    ) -> "CondCollection":
        """rows: (site, master_alias, raw_condition) — the sheet shape
        (cond_collection.py:467-517, cells A/B/C from row 4 on)."""
        coll = cls(name, time_from, time_until)
        for i, row in enumerate(rows):
            if len(row) != 3 or any(v is None or str(v).strip() == "" for v in row):
                coll.errors.add(f"Row {i}: empty or missing cell, row skipped")
                continue
            site, alias, raw = row
            try:
                spec = ConditionSpec(
                    site, alias, raw, coll.time_from, coll.time_until, excel_row=i
                )
            except ValueError as e:
                coll.errors.add(f"Row {i}: {e}")
                continue
            if spec.id_string in coll.conditions:
                # Uniqueness of site_masteralias enforced
                # (cond_collection.py:82-87).
                coll.errors.add(
                    f'Duplicate condition id "{spec.id_string}", row skipped'
                )
                continue
            coll.conditions[spec.id_string] = spec
        return coll

    # -- planning --------------------------------------------------------

    def execution_order(self) -> list[str]:
        """Topologically sort conditions by secondary dependencies.

        Unknown references and cycles are recorded as errors and the
        offending conditions dropped (the reference would fail at SQL time;
        we fail at plan time, same inputs rejected plus cycles)."""
        graph: dict[str, set[str]] = {}
        runnable = {
            cid: c for cid, c in self.conditions.items() if c.blocks_made
        }
        for cid, c in runnable.items():
            deps = c.dependencies()
            for dep in deps:
                if dep not in self.conditions:
                    c.errors.add(f'Secondary reference to undefined condition "{dep}"')
                elif dep not in runnable:
                    c.errors.add(f'Secondary reference to invalid condition "{dep}"')
            graph[cid] = deps
        # Drop conditions whose dependencies are unavailable, transitively.
        changed = True
        while changed:
            changed = False
            for cid in list(graph):
                if any(d not in graph for d in graph[cid]):
                    del graph[cid]
                    changed = True
        try:
            order = list(TopologicalSorter(graph).static_order())
        except CycleError as e:
            self.errors.add(f"Cyclic secondary references: {e.args[1]}")
            return []
        return [cid for cid in order if cid in graph]

    # -- execution -------------------------------------------------------

    def run(
        self,
        obs: DataFrame,
        *,
        max_minutes: int = DEFAULT_MAX_MINUTES,
        key_cols: tuple[str, str] = ("statid", "seid"),
        time_col: str = "tfrom",
        sensor_name_to_id: dict[str, int] | None = None,
    ) -> dict[str, ConditionResult]:
        """Execute all runnable conditions against an observations DF.

        ``obs``: observations in the obs_main shape. The collection's time
        window (P1) is applied here once; with date-partitioned storage the
        filter prunes partitions before any shuffle.

        Each level's combined runs relation is localCheckpoint-ed, so a
        secondary level, the summaries and the reports read it without
        recomputing the levels below.  Even a lazy checkpoint does part of
        its work inside this call: under AQE, ``localCheckpoint(eager=
        False)`` runs the level's shuffle map stage (combine_tagged's one
        cond_id exchange) as a job before returning, and only the final
        result stage waits for the first action.
        """
        windowed = obs.where(
            F.col(time_col).between(F.lit(self.time_from), F.lit(self.time_until))
        )

        # Sensor name→id resolution (J5) for primary blocks.
        if sensor_name_to_id:
            for c in self.conditions.values():
                for b in c.primary_blocks():
                    b.resolve_sensor_id(sensor_name_to_id)

        results: dict[str, ConditionResult] = {
            cid: ConditionResult(spec=c) for cid, c in self.conditions.items()
        }

        order = self.execution_order()

        # The sheet's ENTIRE primary-block workload runs as one plan:
        # (a) one predicate-independent stepping pass (W1+W2) over the union
        #     of needed sensor keys — one scan + one shuffle of the raw
        #     table regardless of block count (the reference runs one
        #     pack_ranges SQL call per block, rescanning obs_main each
        #     time — condition.py:329-354);
        # (b) one multi-block packing pass (W3-W5) keyed by block id, with
        #     identical (key, op, value) specs deduplicated ACROSS
        #     conditions (the reference's CSE is per-condition only,
        #     condition.py:229-239).
        # Only the packed RUNS are cached — tiny — never raw readings.
        spec_index: dict[tuple, int] = {}
        block_ids: dict[tuple, int] = {}
        for cid in order:
            for b in self.conditions[cid].primary_blocks():
                if len(b.errors):
                    continue  # e.g. failed sensor resolution — skipped below
                seid_val = b.sensor_id if b.sensor_id is not None else b.sensor
                sig = (b.station_id, seid_val, b.operator, b.value)
                if sig not in spec_index:
                    spec_index[sig] = len(spec_index)
                block_ids[(cid, b.alias)] = spec_index[sig]
        packed_all = None
        if spec_index:
            needed_keys = {(sid, sev) for sid, sev, _, _ in spec_index}
            combined = None
            for sid, sev in needed_keys:
                c = (F.col(key_cols[0]) == F.lit(sid)) & (
                    F.col(key_cols[1]) == F.lit(sev)
                )
                combined = c if combined is None else (combined | c)
            stepped = prepare_stepped_obs(
                windowed.where(combined),
                max_minutes,
                key_cols=key_cols,
                time_col=time_col,
            )
            specs = [
                (bid, sid, sev, op, value)
                for (sid, sev, op, value), bid in spec_index.items()
            ]
            # Materialize AND truncate lineage: downstream plans reference
            # this relation from dozens of branches — with lineage intact,
            # Catalyst re-analyzes the full packing DAG per branch per
            # action (driver-side planning grows superlinearly with sheet
            # size; measured minutes at 25 conditions), and an unpopulated
            # cache would be recomputed concurrently inside fan-out jobs.
            # localCheckpoint pins the computed partitions and gives
            # downstream plans a leaf-sized logical node.
            packed_all = pack_ranges_multi(
                stepped, specs, key_cols=key_cols
            ).localCheckpoint(eager=True)

        # Topological LEVELS: every condition in a level depends only on
        # earlier levels, so each level combines as ONE multi-condition
        # plan (combine_tagged — one cond_id exchange for all N
        # conditions). Level counts are small in practice (0 = primaries,
        # 1+ = secondary chains).
        level_of: dict[str, int] = {}
        for cid in order:
            deps = [d for d in self.conditions[cid].dependencies() if d in level_of]
            level_of[cid] = (max(level_of[d] for d in deps) + 1) if deps else 0
        levels: dict[int, list[str]] = {}
        for cid in order:
            levels.setdefault(level_of[cid], []).append(cid)
        # Levels whose ranges a LATER level's secondary blocks read: these
        # are materialized EAGERLY (their partitions feed multiple
        # downstream plan branches — an unmaterialized cache would be
        # recomputed concurrently inside the fan-out job).  Every other
        # level — in particular the ONLY level of a secondary-free sheet,
        # the common case — checkpoints lazily, which saves the final
        # result stage: under AQE the lazy call still runs the level's one
        # shuffle map stage as a job inside localCheckpoint, and the
        # result stage folds into the first consuming job (normally the
        # sheet-summary collect).
        eager_levels = {
            level_of[b.source_condition_id]
            for spec in self.conditions.values()
            for b in spec.blocks.values()
            if b.secondary and b.source_condition_id in level_of
        }

        for lvl in sorted(levels):
            # Per level, assemble the tagged ranges relation for
            # combine_tagged: ALL primary blocks come from packed_all via
            # ONE literal map looked up by block_id and exploded (block_id
            # → [(cond_id, ualias)] — a CSE-shared block fans out to every
            # condition using it; blocks of other levels find no entry and
            # drop out); secondary blocks add one small branch each.
            primary_users: dict[int, list[tuple[str, str]]] = {}
            secondary_parts: list[DataFrame] = []
            cond_aliases: dict[str, list[str]] = {}
            exprs: dict[str, str] = {}
            for cid in levels[lvl]:
                spec = self.conditions[cid]
                aliases: list[str] = []
                pmap: list[tuple[int, str]] = []
                sparts: list[DataFrame] = []
                failed = False
                for alias, block in spec.blocks.items():
                    if len(block.errors):
                        # e.g. sensor-name resolution failed above (J5): the
                        # reference skips the whole condition at temp-table
                        # creation (condition.py:317-327); same here.
                        failed = True
                        break
                    if block.secondary:
                        dep = results.get(block.source_condition_id)
                        if dep is None or dep.ranges is None:
                            spec.errors.add(
                                f'Secondary block "{alias}" references '
                                f'unavailable condition "{block.source_condition_id}"'
                            )
                            failed = True
                            break
                        # Secondary block = the referenced condition's master
                        # column over its ranges (block.py:195-207).
                        sparts.append(
                            dep.ranges.select(
                                F.lit(cid).alias("cond_id"),
                                F.lit(f"{cid}__{alias}").alias("ualias"),
                                "vfrom",
                                "vuntil",
                                encode_tristate(F.col("master")).alias("s_start"),
                            )
                        )
                    else:
                        pmap.append((block_ids[(cid, alias)], f"{cid}__{alias}"))
                    aliases.append(alias)
                if failed or not aliases:
                    continue
                cond_aliases[cid] = aliases
                exprs[cid] = spec.alias_condition
                for bid, ualias in pmap:
                    primary_users.setdefault(bid, []).append((cid, ualias))
                secondary_parts.extend(sparts)
            if not cond_aliases:
                continue
            tagged_parts = list(secondary_parts)
            if primary_users:
                block_users = F.create_map(
                    *[
                        col
                        for bid, users in primary_users.items()
                        for col in (
                            F.lit(bid),
                            F.array(
                                *[
                                    F.struct(
                                        F.lit(c).alias("cond_id"),
                                        F.lit(u).alias("ualias"),
                                    )
                                    for c, u in users
                                ]
                            ),
                        )
                    ]
                )
                tagged_parts.append(
                    packed_all.select(
                        F.inline(F.element_at(block_users, F.col("block_id"))),
                        "vfrom",
                        "vuntil",
                        encode_tristate(F.col("istrue")).alias("s_start"),
                    )
                )
            tagged = reduce(DataFrame.unionByName, tagged_parts)
            multi = combine_tagged(tagged, exprs, cond_aliases)
            # One materialized relation per level replaces the
            # reference's per-condition temp tables (condition.py:338);
            # it holds RUNS (small), and every downstream read —
            # summaries, secondary references, reports — derives from
            # it. Lineage truncated for the same planning-cost reason
            # as packed_all above; eager only when a later level will
            # fan out over it (see eager_levels above).
            multi = multi.localCheckpoint(eager=lvl in eager_levels)
            # ONE cond_id-grouped rollup per level: every condition's
            # summary is a cheap filter of it.  Building the A3 aggregate
            # once per LEVEL instead of once per condition keeps driver-
            # side plan construction flat in sheet size (profiled: the
            # per-condition aggregates were ~1.1 s of the 10-condition
            # sheet's ~6.8 s warm wall), and the union the driver query
            # reads (summaries_df) becomes one plan per level whose
            # aggregation runs once over the checkpointed runs.
            # The keys frame restores the one-row-per-condition contract:
            # a condition whose blocks matched ZERO observations has no
            # rows in `multi`, and a grouped agg would silently drop it —
            # the report rows (reports.summary_rows) rely on its summary
            # row existing, NULL-filled, for no-data conditions exactly as
            # the ungrouped rollup produced.
            cid_keys = obs.sparkSession.range(0, 1, 1, 1).select(
                F.explode(F.array(*[F.lit(c) for c in cond_aliases])).alias("cond_id")
            )
            lvl_summary = validity_summary(
                multi, group_cols=["cond_id"], keys=cid_keys
            )
            level = LevelResult(multi, lvl_summary, cond_aliases)
            for cid in cond_aliases:
                results[cid].ranges = condition_view(multi, cid, cond_aliases[cid])
                results[cid].summary = lvl_summary.where(
                    F.col("cond_id") == F.lit(cid)
                ).drop("cond_id")
                results[cid].level = level
        return results

    @staticmethod
    def summaries_df(results: dict[str, ConditionResult]) -> DataFrame | None:
        """Union every condition's one-row validity summary into ONE
        DataFrame (cond_id + A3 columns) so the whole sheet's rollups run
        as a single Spark job with concurrently-scheduled stages —
        collecting summaries one `.collect()` at a time serializes ~10
        small jobs per condition instead.

        Conditions of a level share one cond_id-grouped rollup
        (``level.summary``), so the union is one branch per level — plan
        size and execution stay flat in condition count.  Conditions that
        did not run (no level) are left out."""
        levels: dict[LevelResult, list[str]] = {}
        for cid, res in results.items():
            if res.level is not None:
                levels.setdefault(res.level, []).append(cid)
        # isin keeps the contract exact when the caller passes a SUBSET of
        # a level's results; on the normal whole-sheet path it is a cheap
        # always-true predicate on a per-level one-row-per-condition frame.
        parts = [
            level.summary.where(F.col("cond_id").isin(cids))
            for level, cids in levels.items()
        ]
        if not parts:
            return None
        return reduce(DataFrame.unionByName, parts)

    def error_tree(self) -> dict:
        """S9: nested error dict (analysis_collection.py:149-187 shape)."""
        tree = {"collection": self.name, "errors": self.errors.as_tree_value(), "conditions": {}}
        for cid, c in self.conditions.items():
            node = {"errors": c.errors.as_tree_value(), "blocks": {}}
            for alias, b in c.blocks.items():
                if len(b.errors):
                    node["blocks"][alias] = b.errors.as_tree_value()
            if node["errors"] or node["blocks"]:
                tree["conditions"][cid] = node
        return tree


@dataclass
class AnalysisCollection:
    """Workbook level: many sheets, shared sensor/station metadata
    (analysis_collection.py:55-110). Sheets are independent; on a cluster
    they can be submitted as concurrent jobs (the reference notes this
    parallelism but cannot use it — tsabatch.py:129-138)."""

    name: str
    collections: list[CondCollection] = field(default_factory=list)
    errors: ErrorCollection = field(default=None)  # type: ignore[assignment]

    def __post_init__(self):
        self.errors = ErrorCollection(f"ANALYSIS <{self.name}>")

    def add_collection(self, coll: CondCollection) -> None:
        self.collections.append(coll)

    def dry_validate(
        self,
        known_station_ids: set[int] | frozenset[int],
        sensor_name_to_id: dict[str, int],
    ) -> dict:
        """Entry point 2 (tsabatch.py:89-107): validate without executing.

        Checks sensor names and station ids of every primary block against
        metadata snapshots; returns the error tree; non-empty ⇒ invalid.
        """
        for coll in self.collections:
            for c in coll.conditions.values():
                for b in c.primary_blocks():
                    b.resolve_sensor_id(sensor_name_to_id)
                    b.validate_station(known_station_ids)
        return self.error_tree()

    def run_all(
        self, spark: SparkSession, obs: DataFrame, **kwargs
    ) -> dict[str, dict[str, ConditionResult]]:
        return {coll.name: coll.run(obs, **kwargs) for coll in self.collections}

    def error_tree(self) -> dict:
        return {
            "analysis": self.name,
            "errors": self.errors.as_tree_value(),
            "collections": [c.error_tree() for c in self.collections],
        }
