"""Analysis lifecycle orchestration (SURVEY §3).

Reference structure (one level per input granularity):

- AnalysisCollection (workbook) → CondCollection (sheet, one shared
  [time_from, time_until] window) → Condition (row) → Block (term).
- The reference pins each sheet to one DB connection and materializes
  session temp tables, running primaries before secondaries in user row
  order (cond_collection.py:166-187) — secondary-on-secondary correctness
  RELIES on user ordering (`:169-171`).

Spark-first changes (no semantic impact, SURVEY §7.4):

- a sheet runs as ONE combine plan instead of per-condition temp tables:
  a secondary condition reads the primary blocks of the conditions it
  references on its own timeline, so chains and diamonds of secondaries
  cost one cond_id exchange, whatever their depth;
- secondary dependencies get a REAL topological sort with cycle detection —
  a strict improvement that preserves all accepted inputs;
- the time-windowed observations (obs_main, P1) are read once per sheet;
  Catalyst pushes the window filter into the scan;
- ``run`` only plans: it runs no Spark job and pins nothing, and a report
  reads the sheet with one collect of its runs relation;
- sheets (collections) are independent Spark jobs, parallelizable.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, time
from functools import cached_property, reduce
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


@dataclass(eq=False)  # identity-hashed: readers group conditions by sheet
class SheetResult:
    """A sheet's shared runs relation, the same object on every condition
    that ran: report and summary reads make one plan (and one collect) per
    SHEET instead of one per condition."""

    runs: DataFrame  # (cond_id, vfrom, vuntil, vdiff_s, <cond_id>__<alias>..., master)
    aliases: "dict[str, list[str]]"  # cond_id -> block aliases, column order

    @cached_property
    def summary(self) -> DataFrame:
        """The cond_id-grouped validity rollup (cond_id + A3 columns), one
        row per condition that ran.

        ONE rollup per sheet: every condition's summary is a cheap filter
        of it, so driver-side plan construction stays flat in sheet size
        (profiled: per-condition aggregates were ~1.1 s of a 10-condition
        sheet's ~6.8 s warm wall). The keys frame restores the
        one-row-per-condition contract: a condition whose blocks matched
        ZERO observations has no rows in ``runs``, and a grouped agg would
        silently drop it."""
        cid_keys = self.runs.sparkSession.range(0, 1, 1, 1).select(
            F.explode(F.array(*[F.lit(c) for c in self.aliases])).alias("cond_id")
        )
        return validity_summary(self.runs, group_cols=["cond_id"], keys=cid_keys)


@dataclass
class ConditionResult:
    """One condition's result. ``ranges`` and ``summary`` are views of the
    sheet's relations, planned on first access; both are None when the
    condition did not run."""

    spec: ConditionSpec
    sheet: SheetResult | None = None  # the sheet result this condition ran in

    @cached_property
    def ranges(self) -> DataFrame | None:
        """(vfrom, vuntil, vdiff_s, <aliases...>, master)"""
        if self.sheet is None:
            return None
        cid = self.spec.id_string
        return condition_view(self.sheet.runs, cid, self.sheet.aliases[cid])

    @cached_property
    def summary(self) -> DataFrame | None:
        """The one-row validity rollup (A3)."""
        if self.sheet is None:
            return None
        return self.sheet.summary.where(
            F.col("cond_id") == F.lit(self.spec.id_string)
        ).drop("cond_id")


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

        The whole sheet is one lazy plan, whatever the depth of its
        secondary chains: this method runs no Spark job and pins nothing.
        Each result's ``ranges`` and ``summary`` read the sheet's runs
        relation, and so does ``reports.summary_rows``, with one collect.
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

        # What each runnable condition's aliases read, in dependency order:
        # a packed block's id, or the id of the condition a secondary block
        # reads. Identical (key, op, value) specs share one block id ACROSS
        # conditions (the reference's CSE is per-condition only,
        # condition.py:229-239).
        spec_index: dict[tuple, int] = {}
        refs: "dict[str, dict[str, int | str]]" = {}
        for cid in self.execution_order():
            spec = self.conditions[cid]
            crefs: "dict[str, int | str]" = {}
            for alias, block in spec.blocks.items():
                if len(block.errors):
                    # e.g. sensor-name resolution failed above (J5): the
                    # reference skips the whole condition at temp-table
                    # creation (condition.py:317-327); same here.
                    break
                if not block.secondary:
                    seid_val = block.sensor_id if block.sensor_id is not None else block.sensor
                    sig = (block.station_id, seid_val, block.operator, block.value)
                    crefs[alias] = spec_index.setdefault(sig, len(spec_index))
                elif block.source_condition_id in refs:
                    crefs[alias] = block.source_condition_id
                else:
                    spec.errors.add(
                        f'Secondary block "{alias}" references '
                        f'unavailable condition "{block.source_condition_id}"'
                    )
                    break
            else:
                if crefs:
                    refs[cid] = crefs
        if not refs:
            return results

        # The sheet's ENTIRE primary-block workload runs as one plan:
        # (a) one predicate-independent stepping pass (W1+W2) over the union
        #     of needed sensor keys — one scan + one shuffle of the raw
        #     table regardless of block count (the reference runs one
        #     pack_ranges SQL call per block, rescanning obs_main each
        #     time — condition.py:329-354);
        # (b) one multi-block packing pass (W3-W5) keyed by block id.
        combined = None
        for sid, sev in {(sid, sev) for sid, sev, _, _ in spec_index}:
            c = (F.col(key_cols[0]) == F.lit(sid)) & (F.col(key_cols[1]) == F.lit(sev))
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
        packed_all = pack_ranges_multi(stepped, specs, key_cols=key_cols)

        # A secondary block is its source's master over the source's own
        # primary blocks, on the same timeline (see combine_tagged). So each
        # condition reads the CLOSURE of its primary blocks — its own and
        # those of every condition it reads, transitively — and the whole
        # sheet combines as ONE plan: one literal map fans each packed
        # block out to every condition whose closure holds it (a
        # CSE-shared block included), one cond_id exchange.
        closure: dict[str, set[int]] = {}
        for cid, crefs in refs.items():
            closure[cid] = set().union(
                *(closure[r] if isinstance(r, str) else {r} for r in crefs.values())
            )
        users: dict[int, list[str]] = {}
        for cid, bids in closure.items():
            for bid in bids:
                users.setdefault(bid, []).append(cid)
        block_users = F.create_map(
            *[
                col
                for bid, cids in users.items()
                for col in (F.lit(bid), F.array(*[F.lit(c) for c in cids]))
            ]
        )
        tagged = packed_all.select(
            F.explode(F.element_at(block_users, F.col("block_id"))).alias("cond_id"),
            "block_id",
            "vfrom",
            "vuntil",
            encode_tristate(F.col("istrue")).alias("s_start"),
        )
        exprs = {cid: self.conditions[cid].alias_condition for cid in refs}
        # One relation replaces the reference's per-condition temp tables
        # (condition.py:338); it holds RUNS (small), and every downstream
        # read — summaries, reports — derives from it.
        sheet = SheetResult(
            combine_tagged(tagged, exprs, refs),
            {cid: list(crefs) for cid, crefs in refs.items()},
        )
        for cid in refs:
            results[cid].sheet = sheet
        return results

    @staticmethod
    def summaries_df(results: dict[str, ConditionResult]) -> DataFrame | None:
        """Union every condition's one-row validity summary into ONE
        DataFrame (cond_id + A3 columns) so the whole sheet's rollups run
        as a single Spark job — collecting summaries one `.collect()` at a
        time serializes ~10 small jobs per condition instead.

        A sheet's conditions share one cond_id-grouped rollup
        (``sheet.summary``), so the union has one branch per sheet — plan
        size and execution stay flat in condition count.  Conditions that
        did not run (no sheet result) are left out."""
        sheets: dict[SheetResult, list[str]] = {}
        for cid, res in results.items():
            if res.sheet is not None:
                sheets.setdefault(res.sheet, []).append(cid)
        # isin keeps the contract exact when the caller passes a SUBSET of
        # a sheet's results; on the normal whole-sheet path it is a cheap
        # always-true predicate on a one-row-per-condition frame.
        parts = [
            sheet.summary.where(F.col("cond_id").isin(cids))
            for sheet, cids in sheets.items()
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
