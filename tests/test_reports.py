"""Report sink tests: summary_rows collects a sheet once into plain rows,
and every sink renders from those rows without running a Spark job."""

from __future__ import annotations

import csv
import json
from datetime import datetime, timedelta

import pytest

from tsatool_app_spark import reports
from tsatool_app_spark.runner import AnalysisCollection, CondCollection

T0 = datetime(2018, 3, 1)


@pytest.fixture(scope="module")
def obs(spark):
    rows = [(i * 5, 1122, 3, float(v)) for i, v in enumerate([5, 4, 2, 1, 2.5, 4, 5, 5])]
    return spark.createDataFrame(
        [(T0 + timedelta(minutes=m), s, se, v) for m, s, se, v in rows],
        "tfrom timestamp, statid int, seid int, seval float",
    )


@pytest.fixture(scope="module")
def sheet(obs):
    """(collection, runner results): one runnable and one failed condition."""
    coll = CondCollection.from_rows(
        "sheet1", T0, T0,
        [("Sipoo", "A1", "s1122#tie_1 < 3"), ("Sipoo", "B1", "keli_10 = 8 AND")],
    )
    return coll, coll.run(obs, sensor_name_to_id={"tie_1": 3})


@pytest.fixture(scope="module")
def results(sheet):
    """(collection, its summary_rows)."""
    coll, res = sheet
    return coll, reports.summary_rows(res)


def _row(rows, cid):
    return next(r for r in rows if r["cond_id"] == cid)


def test_summary_csv(results, tmp_path):
    _, res = results
    p = reports.write_summary_csv(res, str(tmp_path / "summary.csv"))
    with open(p) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 2
    ok = next(r for r in rows if r["master_alias"] == "a1")
    bad = next(r for r in rows if r["master_alias"] == "b1")
    assert float(ok["percentage_valid"]) > 0
    assert bad["rows"] == "0" and bad["data_from"] == ""


def test_timeline_json(results, tmp_path):
    _, res = results
    p = reports.write_timeline_json(_row(res, "sipoo_a1"), str(tmp_path / "tl.json"))
    rows = json.load(open(p))
    series = {r["series"] for r in rows}
    assert series == {"a1_0", "master"}
    assert {r["color"] for r in rows} <= {
        reports.COLOR_TRUE, reports.COLOR_FALSE, reports.COLOR_NULL
    }
    # segments come in vfrom order, and the summary's rows counts them
    assert [r["vfrom"] for r in rows] == sorted(r["vfrom"] for r in rows)
    master = [r for r in rows if r["series"] == "master"]
    with open(reports.write_summary_csv(res, str(tmp_path / "summary.csv"))) as f:
        a1 = next(r for r in csv.DictReader(f) if r["master_alias"] == "a1")
    assert int(a1["rows"]) == len(master) > 1


def test_error_json(results, tmp_path):
    coll, _ = results
    ac = AnalysisCollection("batch")
    ac.add_collection(coll)
    p = reports.write_error_json(ac, str(tmp_path / "errors.json"))
    tree = json.load(open(p))
    assert tree["analysis"] == "batch"
    assert "sipoo_b1" in json.dumps(tree)


def test_summary_excel_native(results, tmp_path):
    """S6 writes a real .xlsx through the built-in codec."""
    from tsatool_app_spark.sources.xlsx_codec import read_xlsx

    _, res = results
    p = reports.write_summary_excel(res, str(tmp_path / "x.xlsx"), analysis_name="t")
    back = read_xlsx(p)
    assert back["summary"][0] == reports.SUMMARY_COLUMNS
    by_alias = {r[1]: r for r in back["summary"][1:]}
    assert by_alias["a1"][5] > 0  # percentage_valid
    assert by_alias["b1"][8] == 0  # rows for the failed condition


def test_timeline_png_native(results, tmp_path):
    """S8 writes a real PNG: signature, IHDR dims, and the reference's
    true-red pixels present in the decoded raster."""
    import struct
    import zlib

    import numpy as np

    _, res = results
    p = reports.write_timeline_png(_row(res, "sipoo_a1"), str(tmp_path / "x.png"))
    data = open(p, "rb").read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", data[16:24])
    assert w == 1200 and h > 40
    # decode (single IDAT, filter 0 per scanline)
    idat_off = data.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", data[idat_off - 8 : idat_off - 4])[0]
    raw = zlib.decompress(data[idat_off : idat_off + idat_len])
    img = np.frombuffer(raw, dtype=np.uint8).reshape(h, w * 3 + 1)[:, 1:].reshape(h, w, 3)
    cols = {tuple(c) for c in img.reshape(-1, 3)}
    assert (0xF0, 0x3B, 0x20) in cols  # COLOR_TRUE segments drawn
    assert (0x2B, 0x83, 0xBA) in cols  # COLOR_FALSE segments drawn


def test_pptx_native(results, tmp_path):
    """S7 writes a structurally valid .pptx: every part parses, one slide
    per condition, validity table + embedded timeline PNG present."""
    import zipfile
    from xml.etree import ElementTree as ET

    _, res = results
    p = reports.write_pptx(res, str(tmp_path / "x.pptx"))
    with zipfile.ZipFile(p) as z:
        names = set(z.namelist())
        assert "ppt/presentation.xml" in names
        assert "ppt/slides/slide1.xml" in names and "ppt/slides/slide2.xml" in names
        for n in names:
            if n.endswith(".xml") or n.endswith(".rels"):
                ET.fromstring(z.read(n))  # well-formed
        s1 = z.read("ppt/slides/slide1.xml").decode()
        assert "sipoo_a1" in s1 and "a:tbl" in s1
        assert "ppt/media/image1.png" in names
        assert z.read("ppt/media/image1.png")[:8] == b"\x89PNG\r\n\x1a\n"


def test_pptx_no_data_condition(tmp_path):
    """A condition that matched no rows yields a summary of NULLs
    (x/0 -> NULL in Spark); the deck must render 'n/a' cells instead of
    raising TypeError on float formatting (r2 ADVICE)."""
    import zipfile

    row = {
        "cond_id": "c_nodata",
        "site": "s1",
        "master_alias": "c",
        "condition": "s1#x > 1",
        "data_from": None,
        "data_until": None,
        "percentage_valid": None,
        "percentage_notvalid": None,
        "percentage_nodata": None,
        "tottime_valid_s": None,
        "tottime_notvalid_s": None,
        "tottime_nodata_s": None,
        "rows": 0,
        "errors": [],
        "ranges": [],
    }
    p = reports.write_pptx([row], str(tmp_path / "nodata.pptx"))
    with zipfile.ZipFile(p) as z:
        s1 = z.read("ppt/slides/slide1.xml").decode()
    assert "n/a" in s1
    assert "Data range: n/a" in s1


def test_pptx_template_preserves_branding(results, tmp_path):
    """write_pptx with template_path clones the template's master/layout/
    theme byte-identically (r2 VERDICT #5: a user who brands the template
    keeps their branding), attaches generated slides to the template's
    first layout, and keeps template media separate from timeline PNGs."""
    import zipfile
    from xml.etree import ElementTree as ET

    from tsatool_app_spark.sinks_pptx import write_pptx_deck

    # Build a synthetic "branded" template: generate a minimal deck, then
    # rewrite its theme/master with distinctive markers and add a media part
    # referenced by the master (a logo), as a real branded template would.
    base = str(tmp_path / "base.pptx")
    write_pptx_deck(base, [{"title": "placeholder", "lines": ["x"]}])
    tpl = str(tmp_path / "template.pptx")
    logo = b"\x89PNG\r\n\x1a\n" + b"logo-bytes"
    with zipfile.ZipFile(base) as zin, zipfile.ZipFile(tpl, "w") as zout:
        for n in zin.namelist():
            data = zin.read(n)
            if n == "ppt/theme/theme1.xml":
                data = data.replace(b'name="min"', b'name="branded-corp"')
            if n == "ppt/slideMasters/_rels/slideMaster1.xml.rels":
                data = data.replace(
                    b"</Relationships>",
                    b'<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/'
                    b'officeDocument/2006/relationships/image" Target="../media/image1.png"/>'
                    b"</Relationships>",
                )
            zout.writestr(n, data)
        zout.writestr("ppt/media/image1.png", logo)

    _, res = results
    p = reports.write_pptx(res, str(tmp_path / "branded.pptx"), template=tpl)
    with zipfile.ZipFile(tpl) as zt, zipfile.ZipFile(p) as z:
        names = set(z.namelist())
        # master/layout/theme cloned byte-identically, logo media included
        for part in (
            "ppt/slideMasters/slideMaster1.xml",
            "ppt/slideMasters/_rels/slideMaster1.xml.rels",
            "ppt/slideLayouts/slideLayout1.xml",
            "ppt/theme/theme1.xml",
            "ppt/media/image1.png",
        ):
            assert z.read(part) == zt.read(part), part
        assert b"branded-corp" in z.read("ppt/theme/theme1.xml")
        # template's placeholder slide is NOT carried over; ours are
        assert "ppt/slides/slide1.xml" in names and "ppt/slides/slide2.xml" in names
        assert "ppt/slides/slide3.xml" not in names
        s1 = z.read("ppt/slides/slide1.xml").decode()
        assert "sipoo_a1" in s1
        # timeline PNGs use the non-colliding prefix
        assert "ppt/media/timeline1.png" in names
        assert z.read("ppt/media/image1.png") == logo
        # every XML part well-formed; slide rels point at the template layout
        for n in names:
            if n.endswith(".xml") or n.endswith(".rels"):
                ET.fromstring(z.read(n))
        rels1 = z.read("ppt/slides/_rels/slide1.xml.rels").decode()
        assert "../slideLayouts/slideLayout1.xml" in rels1


def _jobs_in_group(sc, group: str, fn) -> int:
    """Run ``fn`` in its own Spark job group; return how many jobs it ran."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sinks_read_the_sheet_once(spark, obs, sheet, results, tmp_path):
    """summary_rows is the report path's only Spark reader: its job count
    does not grow with the number of conditions in a level (the module
    sheet's one runnable condition against four), and no sink runs a
    Spark job."""
    sc = spark.sparkContext
    four = CondCollection.from_rows(
        "sheet4", T0, T0,
        [("Sipoo", f"A{i}", f"s1122#tie_1 < {i + 2}") for i in range(4)],
    ).run(obs, sensor_name_to_id={"tie_1": 3})
    one_jobs = _jobs_in_group(sc, "summary-rows-1", lambda: reports.summary_rows(sheet[1]))
    four_jobs = _jobs_in_group(sc, "summary-rows-4", lambda: reports.summary_rows(four))
    assert one_jobs == four_jobs > 0

    _, rows = results

    def sinks():
        reports.write_summary_csv(rows, str(tmp_path / "s.csv"))
        reports.write_summary_excel(rows, str(tmp_path / "s.xlsx"))
        reports.write_pptx(rows, str(tmp_path / "s.pptx"))
        for row in rows:
            reports.write_timeline_json(row, str(tmp_path / f"{row['cond_id']}.json"))
            reports.write_timeline_png(row, str(tmp_path / f"{row['cond_id']}.png"))

    assert _jobs_in_group(sc, "sinks", sinks) == 0
