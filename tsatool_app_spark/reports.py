"""Report sinks (SURVEY §2.1 S6-S10).

The reference emits Excel (openpyxl), PowerPoint (python-pptx) and PNG
timelines (matplotlib) on the driver after collecting per-condition results
(analysis_collection.py:195-231, cond_collection.py:205-401,
condition.py:448-554). Here each rich sink has a dependency-free native
implementation, and structured CSV/JSON sinks carry the same content:

- S6 Excel summary      → write_summary_excel (built-in xlsx codec,
  sources.xlsx_codec) / write_summary_csv
- S7 PowerPoint deck    → write_pptx (built-in PresentationML writer,
  sinks_pptx: one slide per condition with validity table + timeline PNG)
- S8 PNG timeline Gantt → write_timeline_png (built-in rasterizer
  sinks_png) / timeline_rows (the exact broken_barh segments + colors the
  reference draws: red=true #f03b20, blue=false #2b83ba, grey=NULL
  #bababa — condition.py:448-554)
- S9 JSON error tree    → write_error_json (runner.error_tree → json)
- S10 log sink          → stdlib logging, configured in setup_logging

One driver-side data path feeds every sink: summary_rows collects a sheet's
results once into plain per-condition rows, and every write_* sink renders
from those rows without running a Spark job. The rows hold one-row
summaries and small per-condition range tables (10²-10⁴ rows) — never raw
observations — so report generation is O(conditions), independent of data
scale.
"""

from __future__ import annotations

import csv
import json
import logging
from pathlib import Path

#: Summary columns, matching the reference's Excel sheet row
#: (cond_collection.py:215-248 / FIXTURES.md §5).
SUMMARY_COLUMNS = [
    "site",
    "master_alias",
    "condition",
    "data_from",
    "data_until",
    "percentage_valid",
    "percentage_notvalid",
    "percentage_nodata",
    "rows",
]

#: Summary (A3) fields a report row takes from the condition's rollup.
_SUMMARY_FIELDS = (
    "data_from",
    "data_until",
    "percentage_valid",
    "percentage_notvalid",
    "percentage_nodata",
    "tottime_valid_s",
    "tottime_notvalid_s",
    "tottime_nodata_s",
)

#: Timeline colors (condition.py:452-455).
COLOR_TRUE = "#f03b20"
COLOR_FALSE = "#2b83ba"
COLOR_NULL = "#bababa"


def summary_rows(results: dict) -> list[dict]:
    """Collect runner results into plain rows, one per condition: the only
    report step that runs Spark, and the input of every sink.

    One collect of ``CondCollection.summaries_df`` reads every summary, and
    one collect per level of the level's shared runs relation reads every
    condition's ranges. A row holds the SUMMARY_COLUMNS plus ``cond_id``,
    the A3 seconds (``tottime_valid_s``, ``tottime_notvalid_s``,
    ``tottime_nodata_s``), ``errors`` (the condition's error messages) and
    ``ranges``: the condition's runs in vfrom order, each a dict
    (vfrom, vuntil, <alias>..., master) — None when the condition did not
    run, empty when it matched no data."""
    from tsatool_app_spark.runner import CondCollection

    summaries_df = CondCollection.summaries_df(results)
    summaries = (
        {r.cond_id: r for r in summaries_df.collect()} if summaries_df is not None else {}
    )
    ranges: dict[str, list[dict]] = {
        cid: [] for cid, res in results.items() if res.level is not None
    }
    levels = dict.fromkeys(res.level for res in results.values() if res.level is not None)
    for level in levels:
        for r in level.runs.collect():
            cid = r.cond_id
            if cid in ranges:
                ranges[cid].append(
                    {
                        "vfrom": r.vfrom,
                        "vuntil": r.vuntil,
                        **{a: r[f"{cid}__{a}"] for a in level.aliases[cid]},
                        "master": r.master,
                    }
                )
    out = []
    for cid, res in results.items():
        spec = res.spec
        s = summaries.get(cid)
        runs = ranges.get(cid)
        out.append(
            {
                "cond_id": cid,
                "site": spec.site,
                "master_alias": spec.master_alias,
                "condition": spec.raw_condition,
                **{c: None if s is None else s[c] for c in _SUMMARY_FIELDS},
                "rows": 0 if runs is None else len(runs),
                "errors": list(spec.errors.messages),
                "ranges": None if runs is None else sorted(runs, key=lambda r: r["vfrom"]),
            }
        )
    return out


def write_summary_csv(rows: list[dict], path: str) -> str:
    """S6 fallback: the per-collection summary sheet as CSV."""
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=SUMMARY_COLUMNS, extrasaction="ignore")
        w.writeheader()
        w.writerows(rows)
    return path


def write_summary_excel(rows: list[dict], path: str, *, analysis_name: str = "") -> str:
    """S6: Excel workbook — INFO sheet + one summary sheet, with the
    reference's ``0.00 %`` number format on the percentage columns
    (analysis_collection.py:195-231), written by the built-in codec
    (sources.xlsx_codec)."""
    from tsatool_app_spark.sources.xlsx_codec import STYLE_PERCENT, write_xlsx

    pct_cols = {
        SUMMARY_COLUMNS.index(c): STYLE_PERCENT
        for c in ("percentage_valid", "percentage_notvalid", "percentage_nodata")
    }
    return write_xlsx(
        path,
        {
            "INFO": [["Analysis", analysis_name]],
            "summary": [SUMMARY_COLUMNS]
            + [[row[c] for c in SUMMARY_COLUMNS] for row in rows],
        },
        column_styles={"summary": pct_cols},
    )


def timeline_rows(cond: dict) -> list[dict]:
    """S8 content: the Gantt segments the reference draws for one
    summary_rows row — one row per (series, vfrom, vuntil, state, color),
    series = each block alias + 'master'. Render-ready for any plotting
    backend."""
    rows = []
    for r in cond["ranges"] or []:
        for series, val in r.items():
            if series in ("vfrom", "vuntil"):
                continue
            rows.append(
                {
                    "series": series,
                    "vfrom": r["vfrom"],
                    "vuntil": r["vuntil"],
                    "state": val,
                    "color": COLOR_TRUE if val is True else COLOR_FALSE if val is False else COLOR_NULL,
                }
            )
    return rows


def write_timeline_json(cond: dict, path: str) -> str:
    """S8 fallback: timeline segments as JSON (default=str for timestamps)."""
    with open(path, "w") as f:
        json.dump(timeline_rows(cond), f, default=str, indent=1)
    return path


def write_timeline_png(cond: dict, path: str) -> str:
    """S8: the per-condition validity Gantt as a real PNG
    (condition.py:448-554 broken_barh figure), drawn by the built-in
    rasterizer (sinks_png.render_timeline_png — stdlib zlib PNG, same
    segments, same colors, 5×7 bitmap labels)."""
    from tsatool_app_spark.sinks_png import render_timeline_png

    with open(path, "wb") as f:
        f.write(render_timeline_png(timeline_rows(cond)))
    return path


def write_pptx(rows: list[dict], path: str, template: str | None = None) -> str:
    """S7: one slide per condition, matching the reference's deck contract
    (cond_collection.py:257-401): title, condition text, time range,
    validity table, errors, timeline image.

    Rendered with the built-in dependency-free PresentationML writer
    (sinks_pptx) — a real .pptx with real tables and the S8 timeline PNG
    embedded per slide. With ``template`` (the reference's
    report_template.pptx role), the template's master/layout/theme parts
    are cloned into the deck so user branding survives; otherwise the
    built-in minimal master/theme is used."""
    from tsatool_app_spark.sinks_png import render_timeline_png
    from tsatool_app_spark.sinks_pptx import write_pptx_deck

    # A condition that matched no rows (or tottime_s == 0, x/0 → NULL in
    # Spark) has NULL data_from/until and percentages — render "n/a"
    # instead of crashing the deck on a no-data slide.
    def _pct(v):
        return "n/a" if v is None else f"{v:.2f} %"

    def _sec(v):
        return "n/a" if v is None else str(v)

    slides = []
    for row in rows:
        lines = [f"Condition: {row['condition']}"]
        table = None
        png = None
        if row["ranges"] is not None:
            if row["data_from"] is None and row["data_until"] is None:
                lines.append("Data range: n/a")
            else:
                lines.append(f"Data range: {row['data_from']} - {row['data_until']}")
            table = [
                ["", "seconds", "percent"],
                ["valid", _sec(row["tottime_valid_s"]), _pct(row["percentage_valid"])],
                ["not valid", _sec(row["tottime_notvalid_s"]), _pct(row["percentage_notvalid"])],
                ["no data", _sec(row["tottime_nodata_s"]), _pct(row["percentage_nodata"])],
            ]
            png = render_timeline_png(timeline_rows(row))
        else:
            lines.append("No result (condition not run)")
        lines.extend(f"Error: {msg}" for msg in row["errors"][:5])
        slides.append({"title": row["cond_id"], "lines": lines, "table": table, "png": png})
    return write_pptx_deck(path, slides, template_path=template)


def write_error_json(analysis, path: str) -> str:
    """S9: nested error tree → <name>_ERRORS.json (tsabatch.py:93-104)."""
    with open(path, "w") as f:
        json.dump(analysis.error_tree(), f, indent=1, default=str)
    return path


def setup_logging(name: str, results_dir: str = ".", level: int = logging.INFO) -> logging.Logger:
    """S10: file + console logging, results/<name>.log (tsabatch.py:54-79)."""
    log = logging.getLogger("tsatool_app_spark")
    log.setLevel(level)
    Path(results_dir).mkdir(parents=True, exist_ok=True)
    fh = logging.FileHandler(Path(results_dir) / f"{name}.log")
    fh.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(name)s: %(message)s"))
    log.addHandler(fh)
    return log
