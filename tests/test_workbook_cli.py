"""Workbook intake + CLI tests (S1/S2 and the tsabatch-equivalent entry)."""

from __future__ import annotations

import csv
import json
from datetime import datetime, timedelta

import pytest

from tsatool_app_spark.cli import main
from tsatool_app_spark.sources.workbook import read_csv_sheet, read_csv_workbook

# Reference sheet layout (example_data/toimiva.csv): row 1 labels, row 2
# dates, row 3 column headers, rows 4+ condition rows.
SHEET = [
    ["start", "end"],
    ["1.2.2018", "31.3.2018"],
    ["site", "master_alias", "condition"],
    ["Sipoo itään", "A1", "s1122#tie_1 < 3 AND s1122#keli_1 = 8"],
    ["Sipoo itään", "D1", "A1"],
    ["", "B1", "s1122#tie_1 < 3"],
]
CLEAN_SHEET = SHEET[:5]  # without the empty-site error row


def write_sheet(path, rows=SHEET):
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)


def test_read_csv_sheet(tmp_path):
    p = tmp_path / "Taulukko1.csv"
    write_sheet(p)
    coll = read_csv_sheet(str(p))
    assert coll.name == "Taulukko1"
    assert coll.time_from == datetime(2018, 2, 1, 0, 0, 0)
    assert coll.time_until == datetime(2018, 3, 31, 23, 59, 59)
    assert set(coll.conditions) == {"sipoo_itaan_a1", "sipoo_itaan_d1"}
    assert any("empty" in m.lower() for m in coll.errors.messages)  # row 3


def test_missing_dates_is_error(tmp_path):
    p = tmp_path / "bad.csv"
    write_sheet(p, [["x"], ["", ""]])
    coll = read_csv_sheet(str(p))
    assert any("date" in m.lower() for m in coll.errors.messages)


def test_read_csv_workbook_skips_info(tmp_path):
    write_sheet(tmp_path / "one.csv")
    write_sheet(tmp_path / "info.csv", [["meta"]])
    ac = read_csv_workbook(str(tmp_path), "batch")
    assert len(ac.collections) == 1


def test_cli_dry_validate_exit_codes(tmp_path, capsys):
    sheets = tmp_path / "sheets"
    sheets.mkdir()
    write_sheet(sheets / "ok.csv")
    rc = main(["-i", str(sheets), "-n", "t1", "-r", str(tmp_path / "res"), "--dry-validate"])
    # the sheet contains one bad row (empty site) → validation fails
    assert rc == 1
    out = json.loads(capsys.readouterr().out)
    assert out["dry_validate"] == "failed"
    tree = json.load(open(out["errors_file"]))
    assert "empty" in json.dumps(tree).lower()

    clean = tmp_path / "clean"
    clean.mkdir()
    write_sheet(clean / "ok.csv", CLEAN_SHEET)
    rc2 = main(["-i", str(clean), "-n", "t2", "-r", str(tmp_path / "res2"), "--dry-validate"])
    assert rc2 == 0


def test_xlsx_codec_roundtrip(tmp_path):
    """write_xlsx → read_xlsx preserves values and types (str/int/float/
    bool/datetime/None), multiple sheets, sheet order."""
    from tsatool_app_spark.sources.xlsx_codec import (
        STYLE_PERCENT,
        read_xlsx,
        write_xlsx,
    )

    grid = [
        ["name", "pct", "n", "when", "ok"],
        ["ä & <x>", 12.34, 7, datetime(2018, 3, 25, 14, 30), True],
        [None, 0.5, -3, datetime(2024, 1, 1), False],
    ]
    p = str(tmp_path / "rt.xlsx")
    write_xlsx(p, {"first": grid, "second": [["only"]]},
               column_styles={"first": {1: STYLE_PERCENT}})
    back = read_xlsx(p)
    assert list(back) == ["first", "second"]
    assert back["second"] == [["only"]]
    b = back["first"]
    assert b[0] == grid[0]
    assert b[1] == grid[1]
    assert b[2] == grid[2]


def test_read_xlsx_workbook_end_to_end(tmp_path):
    """A real .xlsx condition workbook (written by the built-in codec) parses
    into the same collections as the CSV path — S1 un-gated."""
    from tsatool_app_spark.sources.workbook import read_xlsx_workbook
    from tsatool_app_spark.sources.xlsx_codec import write_xlsx

    p = str(tmp_path / "wb.xlsx")
    write_xlsx(p, {"Taulukko1": SHEET, "info": [["meta"]]})
    ac = read_xlsx_workbook(p)
    assert ac.name == "wb"
    assert len(ac.collections) == 1  # info sheet skipped
    coll = ac.collections[0]
    assert coll.name == "Taulukko1"
    assert coll.time_from == datetime(2018, 2, 1, 0, 0, 0)
    assert set(coll.conditions) == {"sipoo_itaan_a1", "sipoo_itaan_d1"}


def test_write_summary_excel_without_openpyxl(tmp_path):
    """S6 writes a real .xlsx via the built-in codec; the percentage columns
    carry the 0.00 % style and the content matches the summary rows."""
    import zipfile

    from tsatool_app_spark.reports import SUMMARY_COLUMNS, write_summary_excel
    from tsatool_app_spark.sources.xlsx_codec import read_xlsx

    row = dict.fromkeys(SUMMARY_COLUMNS)
    row.update(site="sipoo", master_alias="a1", condition="s1#x > 1", rows=0)
    p = str(tmp_path / "summary.xlsx")
    write_summary_excel([row], p, analysis_name="t")
    back = read_xlsx(p)
    assert back["INFO"][0] == ["Analysis", "t"]
    assert back["summary"][0] == SUMMARY_COLUMNS
    assert back["summary"][1][:3] == ["sipoo", "a1", "s1#x > 1"]
    with zipfile.ZipFile(p) as z:
        assert "0.00&quot; %&quot;" in z.read("xl/styles.xml").decode()


def test_cli_full_run(tmp_path, spark, capsys):
    # observation store
    T0 = datetime(2018, 2, 10)
    rows = []
    for i, v in enumerate([5.0, 4.0, 2.0, 1.0, 2.5, 4.0, 5.0, 5.0]):
        rows.append((T0 + timedelta(minutes=5 * i), 1122, 3, v))
        rows.append((T0 + timedelta(minutes=5 * i), 1122, 27, 8.0))
    spark.createDataFrame(
        rows, "tfrom timestamp, statid int, seid int, seval float"
    ).write.mode("overwrite").parquet(str(tmp_path / "obs"))
    # sensors metadata CSV
    with open(tmp_path / "sensors.csv", "w") as f:
        f.write('3|18|"TIE_1"\n27|19|"KELI_1"\n')
    sheets = tmp_path / "sheets"
    sheets.mkdir()
    write_sheet(sheets / "s1.csv", CLEAN_SHEET)

    rc = main(
        [
            "-i", str(sheets), "-n", "run1", "-r", str(tmp_path / "res"),
            "--obs-parquet", str(tmp_path / "obs"),
            "--sensors-csv", str(tmp_path / "sensors.csv"),
            "--xlsx", "--pptx", "--png",
        ]
    )
    assert rc == 0
    summary = list(csv.DictReader(open(tmp_path / "res" / "run1_s1.csv")))
    assert len(summary) == 2
    a1 = next(r for r in summary if r["master_alias"] == "a1")
    assert float(a1["percentage_valid"]) > 0
    assert (tmp_path / "res" / "run1_sipoo_itaan_a1_timeline.json").exists()
    assert (tmp_path / "res" / "run1_ERRORS.json").exists()
    # rich sinks (dependency-free codecs)
    assert (tmp_path / "res" / "run1_s1.xlsx").exists()
    assert (tmp_path / "res" / "run1_s1.pptx").exists()
    png = tmp_path / "res" / "run1_sipoo_itaan_a1_timeline.png"
    assert png.read_bytes()[:8] == b"\x89PNG\r\n\x1a\n"


def test_dry_validate_zero_config_snapshots(tmp_path, capsys):
    """--dry-validate with NO metadata inputs validates against the embedded
    2019 snapshots (reference utils.py:115-273 behavior): known station 1122
    and sensors tie_1/keli_1 pass; an unknown station fails."""
    sheets = tmp_path / "ok"
    sheets.mkdir()
    write_sheet(sheets / "s.csv", CLEAN_SHEET)
    rc = main(["-i", str(sheets), "-n", "z1", "-r", str(tmp_path / "r1"), "--dry-validate"])
    assert rc == 0

    bad = tmp_path / "bad"
    bad.mkdir()
    write_sheet(
        bad / "s.csv",
        SHEET[:3] + [["X", "A1", "s99999#tie_1 < 3"]],  # station not in snapshot
    )
    rc2 = main(["-i", str(bad), "-n", "z2", "-r", str(tmp_path / "r2"), "--dry-validate"])
    assert rc2 == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    tree = json.load(open(out["errors_file"]))
    assert "99999" in json.dumps(tree)


def test_xlsx_date_format_classification():
    """Quoted literal text in a formatCode must not trigger date detection
    (r2 ADVICE: ElementTree unescapes &quot; to literal quotes before the
    codec sees the attribute), while real date formats still do."""
    from tsatool_app_spark.sources.xlsx_codec import _is_date_format

    assert not _is_date_format('0.0" m"')
    assert not _is_date_format('#,##0 "days"')
    assert not _is_date_format("[Red]0.00")
    assert not _is_date_format("0.00 %")
    assert _is_date_format("dd.mm.yyyy")
    assert _is_date_format("[$-F400]h:mm:ss")
    assert _is_date_format('yyyy"y"')  # date letters outside the literal


def test_xlsx_1900_leap_serials(tmp_path):
    """Excel's phantom 1900-02-29 (serial 60): 1900-02-28 must write as 59
    and round-trip; 1900-03-01 stays at 61 (r2 ADVICE)."""
    from tsatool_app_spark.sources.xlsx_codec import (
        _datetime_to_serial,
        read_xlsx,
        write_xlsx,
    )

    assert _datetime_to_serial(datetime(1900, 2, 28)) == 59
    assert _datetime_to_serial(datetime(1900, 3, 1)) == 61
    grid = [
        ["when"],
        [datetime(1900, 2, 28)],
        [datetime(1900, 3, 1)],
        [datetime(1900, 1, 1)],
    ]
    p = str(tmp_path / "leap.xlsx")
    write_xlsx(p, {"s": grid})
    assert read_xlsx(p)["s"] == grid
