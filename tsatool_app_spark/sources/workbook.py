"""Condition-workbook intake (SURVEY §2.1 S1/S2).

Reference: an Excel workbook where each sheet is one condition collection
(analysis_collection.py:67-110 → cond_collection.py:467-517):

- sheet title → collection name (a sheet named 'info' is dropped);
- cell A2 = analysis start date ``d.m.Y``, B2 = end date;
- rows ≥ 4, columns A/B/C = (site, master_alias, condition); any empty cell
  ⇒ row skipped with an error.

Real .xlsx workbooks are read by the built-in dependency-free codec
(sources.xlsx_codec).
The CSV reader accepts the same sheet layout (the reference itself ships its
example sheets as CSV exports — example_data/toimiva.csv).
Everything is driver-side: condition sets are tiny (no distributed read).
"""

from __future__ import annotations

import csv
from datetime import datetime
from pathlib import Path

from tsatool_app_spark.runner import AnalysisCollection, CondCollection
from tsatool_app_spark.sources.xlsx_codec import read_xlsx

INFO_SHEET_NAMES = {"info"}
DATE_FORMAT = "%d.%m.%Y"  # d.m.Y per cond_collection.py:490-494


def parse_sheet_rows(name: str, rows: list[list]) -> CondCollection:
    """Rows in the reference sheet layout → CondCollection.

    ``rows`` is the raw cell grid (list per row). Dates are read from row 2
    (index 1), conditions from row 4 (index 3) on."""
    if len(rows) < 2 or len(rows[1]) < 2 or not rows[1][0] or not rows[1][1]:
        coll = CondCollection(name, datetime(1970, 1, 1), datetime(1970, 1, 1))
        coll.errors.add("Missing start/end date in cells A2/B2")
        return coll
    try:
        t0 = _parse_date(rows[1][0])
        t1 = _parse_date(rows[1][1])
    except ValueError as e:
        coll = CondCollection(name, datetime(1970, 1, 1), datetime(1970, 1, 1))
        coll.errors.add(f"Cannot parse analysis dates: {e}")
        return coll
    cond_rows = [tuple((r + [None, None, None])[:3]) for r in rows[3:] if any(r)]
    return CondCollection.from_rows(name, t0, t1, cond_rows)


def _parse_date(v) -> datetime:
    if isinstance(v, datetime):
        return v
    return datetime.strptime(str(v).strip(), DATE_FORMAT)


def read_csv_sheet(path: str, name: str | None = None) -> CondCollection:
    """One CSV file in the sheet layout → CondCollection."""
    p = Path(path)
    with open(p, newline="", encoding="utf-8") as f:
        rows = [list(r) for r in csv.reader(f)]
    return parse_sheet_rows(name or p.stem, rows)


def read_csv_workbook(dir_path: str, analysis_name: str) -> AnalysisCollection:
    """A directory of sheet CSVs → AnalysisCollection (S1 equivalent)."""
    ac = AnalysisCollection(analysis_name)
    files = sorted(Path(dir_path).glob("*.csv"))
    if not files:
        ac.errors.add(f"No sheet CSVs found in {dir_path}")
    for f in files:
        if f.stem.lower() in INFO_SHEET_NAMES:
            continue
        ac.add_collection(read_csv_sheet(str(f)))
    return ac


def read_xlsx_workbook(path: str, analysis_name: str | None = None) -> AnalysisCollection:
    """S1: Excel workbook intake (analysis_collection.py:67-110), read by
    the built-in codec (sources.xlsx_codec)."""
    ac = AnalysisCollection(analysis_name or Path(path).stem)
    for title, rows in read_xlsx(path).items():
        if title.lower() in INFO_SHEET_NAMES:
            continue
        ac.add_collection(parse_sheet_rows(title, rows))
    return ac
