"""DuckDB reference results and the output checks built on them.

The sheet reference is generated from the repository's reference-plan SQL
(``_pack_sql_cte`` for every primary block, then the boundary-union / LEAD /
containment-join / Kleene-master combine of ``_sheet_workload_sql``), run
over a DuckDB view that maps the observation columns onto the ``events``
names those generators expect.  It is a different algorithm from the
engine's carry-forward combine, so agreement is an independent check.  The
corpus reference is the registry's own ``pretraining_mix`` oracle.

Values are compared the way ``scripts/selfcheck.py`` compares them: floats
rounded to 9 places, timestamps as values, rows sorted.
"""

from __future__ import annotations

import csv
import json
import math
import os
import struct
import zipfile
from datetime import datetime

import duckdb

from gen import Cond, Corpus, Sheet

#: the pretraining_mix oracle's composites, by the stage that must drop them
PLANTED = {"exact": [9000010], "near": [9000020], "decon": [9000030, 9000040, 9000094]}


class CheckFailed(Exception):
    """An output that does not match the reference."""


def norm(v):
    """selfcheck.py's value normalisation: floats to 9 places, NaN as NULL,
    timestamps parsed back into values."""
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return round(float(v), 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    return v


def _ts(s):
    return None if s in (None, "", "None") else datetime.fromisoformat(s)


def _num(s):
    return None if s in (None, "", "None") else float(s)


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# ---------------------------------------------------------------------------
# Sheets
# ---------------------------------------------------------------------------


def _combine_sql(prefix: str, sources: dict[str, tuple[str, str]], master: str) -> str:
    """The combine CTE chain of ``_sheet_workload_sql``: ``sources`` maps a
    block alias to (relation, truth column)."""
    unions = " UNION ALL ".join(
        f"SELECT vfrom AS vt FROM {rel} UNION ALL SELECT vuntil FROM {rel}"
        for rel, _ in sources.values()
    )
    joins = "\n  ".join(
        f"LEFT JOIN {rel} AS j_{a} ON {prefix}_m.vfrom >= j_{a}.vfrom"
        f" AND {prefix}_m.vfrom < j_{a}.vuntil"
        for a, (rel, _) in sources.items()
    )
    cols = ", ".join(f"j_{a}.{tc} AS {a}" for a, (_, tc) in sources.items())
    return f"""
{prefix}_pts AS (SELECT DISTINCT vt FROM ({unions})),
{prefix}_mr AS (SELECT vt AS vfrom, lead(vt) OVER (ORDER BY vt) AS vuntil FROM {prefix}_pts),
{prefix}_m AS (SELECT * FROM {prefix}_mr WHERE vuntil IS NOT NULL),
{prefix}_cond AS (
  SELECT aligned.*, ({master}) AS master FROM (
    SELECT {prefix}_m.vfrom, {prefix}_m.vuntil,
           CAST(date_diff('second', {prefix}_m.vfrom, {prefix}_m.vuntil) AS BIGINT) AS vdiff_s,
           {cols}
    FROM {prefix}_m
  {joins}) aligned
)"""


_SUMMARY_SQL = """
SELECT data_from, data_until, tot AS tottime_s,
       v AS tottime_valid_s, nv AS tottime_notvalid_s, tot - v - nv AS tottime_nodata_s,
       v / tot * 100.0 AS percentage_valid,
       nv / tot * 100.0 AS percentage_notvalid,
       (tot - v - nv) / tot * 100.0 AS percentage_nodata,
       n AS rows
FROM (
  SELECT min(vfrom) AS data_from, max(vuntil) AS data_until,
         CAST(date_diff('second', min(vfrom), max(vuntil)) AS BIGINT) AS tot,
         CAST(COALESCE(SUM(CASE WHEN master THEN vdiff_s END), 0) AS BIGINT) AS v,
         CAST(COALESCE(SUM(CASE WHEN NOT master THEN vdiff_s END), 0) AS BIGINT) AS nv,
         count(*) AS n
  FROM {rel}
)"""


class SheetReference:
    """Per condition: its ranges (sorted by vfrom) and its summary row."""

    def __init__(self, obs_path: str, sheets: list[Sheet]):
        from tsatool_app_spark.plans.driver_queries import _pack_sql_cte

        self.sheets = sheets
        self.ranges: dict[str, list[tuple]] = {}
        self.columns: dict[str, list[str]] = {}
        self.summary: dict[str, dict] = {}
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(
                "CREATE VIEW events AS SELECT tfrom AS ts, statid AS user_id,"
                " CAST(seid AS VARCHAR) AS event_type, seval AS value"
                f" FROM read_parquet('{obs_path}')"
            )
            for sheet in sheets:
                pred = (
                    f" AND ts BETWEEN TIMESTAMP '{sheet.time_from}'"
                    f" AND TIMESTAMP '{sheet.time_until}'"
                )
                for c in sheet.conds:  # dependency order
                    rel = f"r_{c.cond_id}"
                    ctes, sources = [], {}
                    for alias, b in zip(c.block_aliases(), c.blocks):
                        if b.ref is not None:
                            sources[alias] = (f"r_{c.site}_{b.ref}", "master")
                        else:
                            blk = (b.station, str(b.seid), b.op, b.value)
                            ctes.append(_pack_sql_cte(f"{rel}_{alias}", blk, time_pred=pred))
                            sources[alias] = (f"{rel}_{alias}", "istrue")
                    ctes.append(_combine_sql(rel, sources, c.master_sql()))
                    con.execute(
                        f"CREATE TEMP TABLE {rel} AS WITH {','.join(ctes)}"
                        f" SELECT * FROM {rel}_cond"
                    )
                    cur = con.execute(f"SELECT * FROM {rel} ORDER BY vfrom")
                    self.columns[c.cond_id] = [d[0] for d in cur.description]
                    self.ranges[c.cond_id] = cur.fetchall()
                    cur = con.execute(_SUMMARY_SQL.format(rel=rel))
                    self.summary[c.cond_id] = dict(
                        zip([d[0] for d in cur.description], cur.fetchone())
                    )
        finally:
            con.close()

    def check_nontrivial(self) -> None:
        """A reference where some condition is never valid, never invalid or
        never without data would let a broken engine pass vacuously."""
        for cid, s in self.summary.items():
            for k in ("percentage_valid", "percentage_notvalid", "percentage_nodata"):
                expect(s[k] is not None and s[k] > 0, f"reference {cid}: {k} is {s[k]}")

    def conds(self):
        return [c for sheet in self.sheets for c in sheet.conds]

    # -- sheet_report: the CLI's files --------------------------------------

    def check_report_dir(self, out_dir: str, name: str) -> None:
        from tsatool_app_spark.sources.xlsx_codec import read_xlsx

        for sheet in self.sheets:
            base = os.path.join(out_dir, f"{name}_{sheet.name}")
            with open(base + ".csv", newline="") as f:
                csv_rows = list(csv.DictReader(f))
            expect(len(csv_rows) == len(sheet.conds), f"{sheet.name}.csv: {len(csv_rows)} rows")
            by_id = {f"{r['site']}_{r['master_alias']}": r for r in csv_rows}
            for c in sheet.conds:
                r = by_id.get(c.cond_id)
                expect(r is not None, f"{sheet.name}.csv: no row for {c.cond_id}")
                s = self.summary[c.cond_id]
                got = (
                    r["condition"], _ts(r["data_from"]), _ts(r["data_until"]),
                    *(norm(_num(r[k])) for k in
                      ("percentage_valid", "percentage_notvalid", "percentage_nodata")),
                    int(r["rows"]),
                )
                want = (
                    c.dsl(), s["data_from"], s["data_until"],
                    *(norm(s[k]) for k in
                      ("percentage_valid", "percentage_notvalid", "percentage_nodata")),
                    s["rows"],
                )
                expect(got == want, f"{sheet.name}.csv {c.cond_id}: got {got} want {want}")
            # the workbook must say what the CSV says
            grid = read_xlsx(base + ".xlsx")["summary"]
            header, body = grid[0], grid[1:]
            expect(header == list(csv_rows[0].keys()), f"{sheet.name}.xlsx header {header}")
            expect(len(body) == len(csv_rows), f"{sheet.name}.xlsx: {len(body)} rows")
            for xr, cr in zip(body, csv_rows):
                want = [_xlsx_like(k, cr[k]) for k in header]
                got = [norm(v) for v in xr]
                expect(got == want, f"{sheet.name}.xlsx row {got} != csv {want}")
            with zipfile.ZipFile(base + ".pptx") as z:
                slides = [n for n in z.namelist()
                          if n.startswith("ppt/slides/slide") and n.endswith(".xml")]
            expect(len(slides) == len(sheet.conds), f"{sheet.name}.pptx: {len(slides)} slides")
            for c in sheet.conds:
                self._check_timeline(out_dir, name, c)
        with open(os.path.join(out_dir, f"{name}_ERRORS.json")) as f:
            tree = json.load(f)
        for coll in tree["collections"]:
            expect(not coll["errors"] and not coll["conditions"], f"error tree: {coll}")

    def _check_timeline(self, out_dir: str, name: str, c: Cond) -> None:
        base = os.path.join(out_dir, f"{name}_{c.cond_id}_timeline")
        with open(base + ".json") as f:
            segs = json.load(f)
        cols = self.columns[c.cond_id]
        series = c.block_aliases() + ["master"]
        got = sorted(
            (s["series"], _ts(s["vfrom"]), _ts(s["vuntil"]), s["state"]) for s in segs
        )
        want = sorted(
            (a, row[cols.index("vfrom")], row[cols.index("vuntil")], row[cols.index(a)])
            for row in self.ranges[c.cond_id]
            for a in series
        )
        expect(len(got) == len(want), f"{c.cond_id} timeline: {len(got)} segments, want {len(want)}")
        expect(got == want, f"{c.cond_id} timeline differs from the reference ranges")
        with open(base + ".png", "rb") as f:
            head = f.read(24)
        expect(head[:8] == b"\x89PNG\r\n\x1a\n", f"{c.cond_id}.png: not a PNG")
        w, h = struct.unpack(">II", head[16:24])
        expect(w >= 100 and h >= 20 * len(series), f"{c.cond_id}.png: {w}x{h}")


def _xlsx_like(col: str, s: str):
    """A CSV cell as the xlsx codec stores it: numbers as numbers,
    timestamps as dates, empty as NULL."""
    if col in ("data_from", "data_until"):
        return _ts(s)
    if col.startswith("percentage_") or col == "rows":
        return norm(_num(s))
    return s if s != "" else None


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------


class CorpusReference:
    """The registry oracle's rows, plus proof that every planted relation
    in the corpus is dropped at the stage meant to drop it."""

    def __init__(self, docs_dir: str, corpus: Corpus):
        from tsatool_app_spark.plans.driver_queries import ORACLES

        oracle = ORACLES["pretraining_mix"]
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM"
                f" read_parquet('{docs_dir}/documents.parquet')"
            )
            cur = con.execute(oracle)
            self.columns = [d[0] for d in cur.description]
            self.rows = sorted(tuple(norm(v) for v in r) for r in cur.fetchall())
            # the oracle's own stage relations: keep its CTEs, swap the
            # final SELECT for a per-stage membership listing
            head, sep, _ = oracle.rpartition("\nSELECT p.doc_id")
            expect(bool(sep), "pretraining_mix oracle: final SELECT not found")
            stages = " UNION ALL ".join(
                f"SELECT '{s}' AS stage, doc_id FROM {s}"
                for s in ("corpus", "clean", "ndkept", "decon", "mix")
            )
            self.stage = {}
            for st, doc in con.execute(head + "\n" + stages).fetchall():
                self.stage.setdefault(st, set()).add(doc)
        finally:
            con.close()
        self.corpus = corpus

    def check_nontrivial(self) -> None:
        st, c = self.stage, self.corpus
        expect(len(self.rows) > 0, "reference: pretraining_mix output is empty")

        def dropped_at(ids, before, at, what):
            for i in ids:
                expect(i in st[before] and i not in st[at],
                       f"reference: {what} doc {i} not dropped between {before} and {at}")

        dropped_at(PLANTED["exact"] + c.clones, "corpus", "clean", "exact clone")
        dropped_at(PLANTED["near"] + c.neardups, "clean", "ndkept", "near-dup")
        dropped_at(PLANTED["decon"] + c.contaminated, "ndkept", "decon", "contaminated")
        expect(0 < len(st["mix"]) < len(st["decon"]), "reference: mixture keeps all or nothing")

    def check(self, columns: list[str], rows: list) -> None:
        expect(sorted(columns) == sorted(self.columns),
               f"pretraining_mix columns {columns}, want {self.columns}")
        got = sorted(tuple(norm(r[c]) for c in self.columns) for r in rows)
        expect(len(got) == len(self.rows), f"pretraining_mix: {len(got)} rows, want {len(self.rows)}")
        expect(got == self.rows, "pretraining_mix: values differ from the oracle")
