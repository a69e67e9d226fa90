"""Property-based tests (SURVEY §5c): pack_ranges invariants on random
observation streams, plus a randomized DuckDB cross-check of the full
pack pipeline (an independent SQL implementation of the same semantics).

Invariants pinned:
  1. output ranges are ordered and pairwise disjoint per key;
  2. adjacent (touching) output ranges differ in istrue;
  3. every output range lies within [min tfrom, max capped tuntil];
  4. total covered time ≤ span of inputs; each input observation's
     truncated interval is inside some output range (runs absorb gaps —
     so coverage is contiguous per run, W5 gap-bridging);
  5. DuckDB oracle equality on the same random input.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tsatool_app_spark.operators.ranges import pack_ranges_all_keys
from tsatool_app_spark.plans.driver_queries import (
    _pack_sql_cte,
    _reference_combine_sql,
)

T0 = datetime(2018, 3, 1)

# Random observation stream: strictly increasing minute offsets with gaps
# up to 2 h, values crossing the threshold, 2-30 observations.
obs_streams = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=120),  # gap to previous (minutes)
        st.floats(min_value=-10.0, max_value=10.0, allow_nan=False, width=32),
    ),
    min_size=2,
    max_size=30,
)


def materialize(stream):
    rows = []
    t = 0
    for gap, val in stream:
        t += gap
        rows.append((T0 + timedelta(minutes=t), 1, 3, float(val)))
    return rows


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(obs_streams)
def test_pack_ranges_invariants_random(spark, stream):
    rows = materialize(stream)
    df = spark.createDataFrame(
        rows, "tfrom timestamp, statid int, seid int, seval float"
    )
    out = (
        pack_ranges_all_keys(df, 30, ">=", 0.0)
        .orderBy("vfrom")
        .collect()
    )
    # 1-3: ordered, disjoint, adjacent differ, inside the input span
    last_until = None
    last_istrue = object()
    for r in out:
        assert r.vfrom < r.vuntil
        if last_until is not None:
            assert r.vfrom >= last_until
            if r.vfrom == last_until:
                assert r.istrue != last_istrue
        assert r.vfrom >= rows[0][0]
        assert r.vuntil <= rows[-1][0] + timedelta(minutes=30)
        last_until, last_istrue = r.vuntil, r.istrue

    # 4: every observation except the last starts inside some output range
    for (t, _, _, _v) in rows[:-1]:
        assert any(r.vfrom <= t < r.vuntil for r in out), t


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(obs_streams)
def test_pack_ranges_matches_duckdb_random(spark, stream):
    rows = materialize(stream)
    df = spark.createDataFrame(
        rows, "tfrom timestamp, statid int, seid int, seval float"
    )
    got = sorted(
        (r.vfrom, r.vuntil, r.istrue)
        for r in pack_ranges_all_keys(df, 30, ">=", 0.0).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE obs (tfrom TIMESTAMP, seval DOUBLE)")
    con.executemany(
        "INSERT INTO obs VALUES (?, ?)", [(t, v) for t, _, _, v in rows]
    )
    want = sorted(
        map(
            tuple,
            con.sql(
                """
WITH w1 AS (
  SELECT tfrom AS vfrom, lead(tfrom) OVER (ORDER BY tfrom) AS next_t,
         (seval >= 0.0) AS istrue FROM obs
), w2 AS (
  SELECT vfrom, least(next_t, vfrom + INTERVAL 30 MINUTE) AS vuntil,
         COALESCE(CAST(istrue AS INT), -1) AS s
  FROM w1 WHERE next_t IS NOT NULL
), w4 AS (
  SELECT *, CASE WHEN s IS DISTINCT FROM lag(s) OVER (ORDER BY vfrom)
                 THEN 1 ELSE 0 END AS chg FROM w2
), w5 AS (
  SELECT *, SUM(chg) OVER (ORDER BY vfrom ROWS UNBOUNDED PRECEDING) AS island
  FROM w4
)
SELECT min(vfrom), max(vuntil),
       CASE WHEN min(s) = 1 THEN TRUE WHEN min(s) = 0 THEN FALSE END
FROM w5 GROUP BY island
"""
            ).fetchall(),
        )
    )
    # float32→float64 widening: Spark evaluates >= on float32 col vs double
    # literal by widening, same as DuckDB DOUBLE storage of the same value
    assert got == want


# -- Combine: random tri-state blocks against the reference combine SQL ----

# One block: cut points on a small minute grid (so blocks share endpoints),
# each span between neighbours a gap or a TRUE/FALSE/NULL range — touching
# ranges where two non-gap spans meet.
_block_ranges = st.lists(
    st.integers(min_value=0, max_value=12), min_size=2, max_size=6, unique=True
).flatmap(
    lambda pts: st.lists(
        st.sampled_from(["gap", True, False, None]),
        min_size=len(pts) - 1,
        max_size=len(pts) - 1,
    ).map(
        lambda states: [
            (a * 10, b * 10, s)
            for a, b, s in zip(sorted(pts), sorted(pts)[1:], states)
            if s != "gap"
        ]
    )
)
_MASTERS = {
    1: ["NOT a1", "a1"],
    2: ["a1 AND NOT a2", "a1 OR a2"],
    3: ["(a1 OR NOT a2) AND a3", "a1 AND a2 OR NOT a3"],
}
_conditions = st.lists(
    st.integers(min_value=1, max_value=3).flatmap(
        lambda n: st.tuples(
            st.lists(_block_ranges, min_size=n, max_size=n),
            st.sampled_from(_MASTERS[n]),
        )
    ),
    min_size=2,
    max_size=2,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_conditions)
def test_combine_multi_matches_duckdb_random(spark, conds):
    """combine_blocks_multi over two conditions equals the reference's
    combine (condition.py:364-391) run in DuckDB: boundary union, LEAD
    pairing, one containment LEFT JOIN per block, Kleene master."""
    from tsatool_app_spark.operators.combine import combine_blocks_multi

    rows = [
        (f"c{i}", f"a{j + 1}", a, b, s)
        for i, (blocks, _) in enumerate(conds)
        for j, ranges in enumerate(blocks)
        for a, b, s in ranges
    ]
    base = spark.createDataFrame(
        [
            (c, al, T0 + timedelta(minutes=a), T0 + timedelta(minutes=b), s)
            for c, al, a, b, s in rows
        ],
        "cond_id string, alias string, vfrom timestamp, vuntil timestamp, "
        "istrue boolean",
    )
    cond_blocks = {
        f"c{i}": {
            f"a{j + 1}": base.where(
                f"cond_id = 'c{i}' AND alias = 'a{j + 1}'"
            ).select("vfrom", "vuntil", "istrue")
            for j in range(len(blocks))
        }
        for i, (blocks, _) in enumerate(conds)
    }
    out = combine_blocks_multi(
        cond_blocks, {f"c{i}": m for i, (_, m) in enumerate(conds)}
    ).collect()

    def minute(ts):
        return int((ts - T0).total_seconds() // 60)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE r (cond_id VARCHAR, alias VARCHAR, vfrom INT, vuntil INT, "
        "istrue BOOLEAN)"
    )
    if rows:
        con.executemany("INSERT INTO r VALUES (?, ?, ?, ?, ?)", rows)
    for i, (blocks, master) in enumerate(conds):
        cid = f"c{i}"
        aliases = [f"a{j + 1}" for j in range(len(blocks))]
        got = sorted(
            (
                minute(r.vfrom), minute(r.vuntil), r.vdiff_s,
                *[r[f"{cid}__{a}"] for a in aliases], r.master,
            )
            for r in out
            if r.cond_id == cid
        )
        blk = ",".join(
            f"blk_{a} AS (SELECT vfrom, vuntil, istrue FROM r "
            f"WHERE cond_id = '{cid}' AND alias = '{a}')"
            for a in aliases
        )
        sources = {a: (f"blk_{a}", "istrue") for a in aliases}
        want = sorted(
            con.sql(
                f"WITH {blk} "
                + _reference_combine_sql(sources, master, "(m.vuntil - m.vfrom) * 60")
            ).fetchall()
        )
        assert got == want, (cid, master)


# -- Secondary sheets: the runner against a level-by-level reference ------

# Sensor keys (station, sensor id) of the random streams; the sheet names
# the sensors by name.  Station 1115 has no observations at all.
_SENSORS = {"tie_1": 3, "keli_1": 27}
_KEYS = [(1122, "tie_1"), (1122, "keli_1"), (1120, "tie_1")]
# One stream: minute gaps up to 45 (beyond the 30-minute validity cap, so
# gaps leave no-data time) and readings with NULLs among them.
_sensor_stream = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=45),
        st.sampled_from([None, 1.0, 2.0, 3.0, 4.0, 8.0]),
    ),
    min_size=2,
    max_size=12,
)
_primary_block = st.tuples(
    st.integers(min_value=0, max_value=len(_KEYS) - 1),
    st.sampled_from(["<", ">=", "="]),
    st.sampled_from([2, 3, 4]),
).map(lambda b: f"s{_KEYS[b[0]][0]}#{_KEYS[b[0]][1]} {b[1]} {b[2]}")
_primary_masters = ["{0}", "NOT {0}", "{0} AND {1}", "{0} OR NOT {1}"]
# A secondary reads one or two earlier conditions (indexes taken modulo the
# number defined before it), so chains and diamonds both come up.
_secondary_masters = [
    "{a}", "NOT {a}", "{a} AND {b}", "{a} OR NOT {b}", "NOT ({a} AND {b})",
    "{a} AND {p}", "NOT {a} OR {p}",
]
_secondary_sheets = st.tuples(
    st.lists(_sensor_stream, min_size=len(_KEYS), max_size=len(_KEYS)),
    st.lists(
        st.tuples(
            st.sampled_from(_primary_masters),
            st.lists(_primary_block, min_size=2, max_size=2),
        ),
        min_size=2,
        max_size=3,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(_secondary_masters),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            _primary_block,
        ),
        min_size=1,
        max_size=3,
    ),
)


def _secondary_rows(primaries, secondaries):
    """Sheet rows (site, alias, condition), sources before readers.  N1,
    on the observation-free station, is always defined and read only when
    a secondary's index picks it."""
    names, rows = ["N1"], [("x", "N1", "s1115#tie_1 < 3")]
    for i, (master, blocks) in enumerate(primaries):
        names.append(f"P{i + 1}")
        rows.append(("x", names[-1], master.format(*blocks)))
    for i, (master, ia, ib, block) in enumerate(secondaries):
        a, b = names[ia % len(names)], names[ib % len(names)]
        names.append(f"S{i + 1}")
        rows.append(("x", names[-1], master.format(a=a, b=b, p=block)))
    return rows


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(_secondary_sheets)
@example(  # a diamond over a NOT-ed secondary, a chain, the no-data source
    (
        [[(5, 1.0), (5, None), (40, 4.0), (5, 2.0), (5, 8.0)]] * 3,
        [("{0} AND {1}", ["s1122#tie_1 < 3", "s1122#keli_1 >= 4"]),
         ("{0} OR NOT {1}", ["s1120#tie_1 >= 3", "s1122#tie_1 = 2"])],
        [("NOT {a}", 1, 0, "s1122#tie_1 < 3"),
         ("{a} AND {b}", 3, 2, "s1122#tie_1 < 3"),
         ("NOT ({a} AND {b})", 3, 4, "s1122#tie_1 < 3")],
    ),
)
@example(  # a secondary of the no-data source and of a chain of it
    (
        [[(10, 3.0), (10, 1.0), (35, None), (10, 2.0)]] * 3,
        [("NOT {0}", ["s1122#keli_1 < 3", "s1122#keli_1 < 3"]),
         ("{0}", ["s1120#tie_1 = 3", "s1120#tie_1 = 3"])],
        [("{a} OR NOT {b}", 0, 2, "s1122#tie_1 < 3"),
         ("NOT {a} OR {p}", 3, 0, "s1122#keli_1 >= 2")],
    ),
)
def test_secondary_sheet_matches_level_reference_random(spark, sheet):
    """CondCollection.run + summary_rows on random sheets with secondaries
    equals a level-by-level DuckDB reference: every primary block is
    ``_pack_sql_cte``, and every condition is the reference combine over
    its blocks, a secondary block reading its source's REFERENCE runs
    (block.py:195-207).  Each condition's runs, its secondary-alias
    columns included, and its summary must match."""
    from tsatool_app_spark import reports
    from tsatool_app_spark.runner import CondCollection

    streams, primaries, secondaries = sheet
    obs = []
    for (statid, sensor), stream in zip(_KEYS, streams):
        t = 0
        for gap, val in stream:
            t += gap
            obs.append((T0 + timedelta(minutes=t), statid, _SENSORS[sensor], val))
    rows = _secondary_rows(primaries, secondaries)
    coll = CondCollection.from_rows("sheet", T0, T0, rows[::-1])
    got = {
        r["cond_id"]: r
        for r in reports.summary_rows(
            coll.run(
                spark.createDataFrame(
                    obs, "tfrom timestamp, statid int, seid int, seval float"
                ),
                sensor_name_to_id=_SENSORS,
            )
        )
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (ts TIMESTAMP, user_id INT, event_type VARCHAR, "
        "value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?)",
        [(t, s, str(se), v) for t, s, se, v in obs],
    )
    for n, (_, alias, _) in enumerate(rows):
        cid = f"x_{alias.lower()}"
        spec = coll.conditions[cid]
        ctes, sources = [], {}
        for a, b in spec.blocks.items():
            if b.secondary:
                sources[a] = (f"ref_{b.source_condition_id}", "master")
            else:
                ctes.append(
                    _pack_sql_cte(
                        f"blk{n}_{a}", (b.station_id, b.sensor_id, b.operator, b.value)
                    )
                )
                sources[a] = (f"blk{n}_{a}", "istrue")
        combine = _reference_combine_sql(sources, spec.alias_condition)
        con.execute(
            f"CREATE TABLE ref_{cid} AS "
            + (f"WITH {','.join(ctes)} " if ctes else "")
            + combine
        )
        want = sorted(con.sql(f"SELECT * FROM ref_{cid}").fetchall())
        runs = got[cid]["ranges"]
        assert runs is not None, (cid, got[cid]["errors"])
        assert [
            (r["vfrom"], r["vuntil"], *[r[a] for a in spec.blocks], r["master"])
            for r in runs
        ] == [(w[0], w[1], *w[3:]) for w in want], (cid, rows)

        valid = sum(w[2] for w in want if w[-1] is True)
        notvalid = sum(w[2] for w in want if w[-1] is False)
        summary = (None, None, valid, notvalid, None)
        if want:
            tot = int((want[-1][1] - want[0][0]).total_seconds())
            summary = (want[0][0], want[-1][1], valid, notvalid, tot - valid - notvalid)
        row = got[cid]
        assert (
            row["data_from"], row["data_until"], row["tottime_valid_s"],
            row["tottime_notvalid_s"], row["tottime_nodata_s"], row["rows"],
        ) == (*summary, len(want)), (cid, rows)


# -- DSL fuzzing: the parser must never crash, only record errors ---------

dsl_tokens = st.lists(
    st.sampled_from(
        [
            "s1122#tie_1 < 3", "s1115#keli_1 in (1,2)", "a1", "site#a2",
            "and", "or", "not", "(", ")", "AND", "NOT",
            "##", "==", "s#", "#1", "in ()", "<", "garbage", "ä ö",
            "s1122#tie_1", "3 < tie_1", "s1#a < b",
        ]
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(dsl_tokens)
def test_condition_parser_never_crashes(tokens):
    from tsatool_app_spark.dsl import ConditionSpec

    raw = " ".join(tokens)
    spec = ConditionSpec("Fuzz site", "F1", raw, T0, T0 + timedelta(days=1))
    # contract: either parsed clean or errors recorded; never an exception
    assert spec.blocks_made or len(spec.errors) > 0 or raw.strip() == ""
    if spec.blocks_made:
        # alias_condition must reference only known aliases
        import re as _re

        names = set(_re.findall(r"[a-z_][a-z0-9_]*", spec.alias_condition))
        assert names - {"and", "or", "not"} <= set(spec.blocks)


# ---------------------------------------------------------------------------
# xlsx codec round-trip property: arbitrary grids of supported value types
# survive write_xlsx → read_xlsx bit-exactly (no Spark involved).
# ---------------------------------------------------------------------------

_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs", "Cc"), exclude_characters="\r"
        ),
        max_size=40,
    ),
    st.datetimes(
        min_value=datetime(1950, 1, 1),
        max_value=datetime(2100, 1, 1),
    ).map(lambda d: d.replace(microsecond=0)),
)


@settings(max_examples=30, deadline=None)
@given(grid=st.lists(st.lists(_cell, max_size=6), min_size=1, max_size=8))
def test_xlsx_roundtrip_property(tmp_path_factory, grid):
    from tsatool_app_spark.sources.xlsx_codec import read_xlsx, write_xlsx

    p = str(tmp_path_factory.mktemp("xlsx") / "rt.xlsx")
    write_xlsx(p, {"s": grid})
    back = read_xlsx(p)["s"]
    # trailing empty rows/cells are structurally equivalent: compare cellwise
    for ri, row in enumerate(grid):
        for ci, val in enumerate(row):
            got = back[ri][ci] if ri < len(back) and ci < len(back[ri]) else None
            if isinstance(val, datetime):
                assert abs((got - val).total_seconds()) < 1e-3, (ri, ci, val, got)
            elif isinstance(val, float) and val == int(val) and abs(val) < 10**15:
                assert float(got) == val, (ri, ci, val, got)
            else:
                assert got == val, (ri, ci, val, got)


# ---------------------------------------------------------------------------
# Incremental-fold associativity: ANY slicing of a random dataset into
# partial-aggregate snapshots folds to the full recompute, bit-for-bit.
# ---------------------------------------------------------------------------

fold_datasets = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),            # key
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, width=32),             # value
        st.integers(min_value=0, max_value=3),            # slice assignment
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(fold_datasets)
def test_incremental_fold_equals_full_any_slicing(spark, rows):
    from tsatool_app_spark.operators.incremental import (
        finalize_aggregate,
        merge_partials,
        partial_aggregate,
    )

    df = spark.createDataFrame(
        [(k, float(v), s) for k, v, s in rows], "k long, v double, s long"
    )
    slices = [df.where(df.s == i).drop("s") for i in range(4)]
    parts = [partial_aggregate(sl, ["k"], "v") for sl in slices]
    folded = finalize_aggregate(merge_partials(*parts))
    full = finalize_aggregate(partial_aggregate(df.drop("s"), ["k"], "v"))
    as_map = lambda d: {
        r.k: (r.n, r.sum_val, r.min_val, r.max_val, r.avg_val) for r in d.collect()
    }
    assert as_map(folded) == as_map(full)


# --- JPEG codec invariants (no Spark involved: pure numpy kernels) ---------

jpeg_images = st.tuples(
    st.integers(min_value=4, max_value=24),   # height
    st.integers(min_value=4, max_value=24),   # width
    st.integers(min_value=0, max_value=2**31 - 1),  # pixel seed
    st.sampled_from([75, 90, 100]),
    st.booleans(),  # grayscale?
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(jpeg_images)
def test_jpeg_progressive_equals_baseline_property(params):
    """For ANY image: the progressive and baseline encoders quantize the
    same coefficients, so the decoder must produce bit-identical pixels
    from both streams — a single mismatch means a defect in successive
    approximation, EOB runs, or refinement-bit handling."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    h, w, seed, quality, gray = params
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8)
    dp = decode_jpeg(encode_jpeg_progressive(img, quality=quality))
    db = decode_jpeg(encode_jpeg_baseline(img, quality=quality))
    assert np.array_equal(dp, db)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(jpeg_images)
def test_jpeg_q100_roundtrip_bound_property(params):
    """quality=100 → all-ones quant tables → round-trip error bounded by
    DCT/color rounding alone, for any input."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import decode_jpeg, encode_jpeg_baseline

    h, w, seed, _, gray = params
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_baseline(img, quality=100))
    ref = img[:, :, None] if gray else img
    assert np.abs(out.astype(int) - ref.astype(int)).max() <= 3


# --- MJPEG-AVI container round-trip (r4 ask: fuzz AVI like JPEG) ------------

avi_clips = st.tuples(
    st.integers(min_value=1, max_value=5),  # frame count
    st.sampled_from([(8, 8), (11, 9), (16, 13), (24, 17)]),  # (w, h) incl. odd
    st.integers(min_value=0, max_value=2**31 - 1),  # pixel seed
    st.booleans(),  # grayscale frames?
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(avi_clips)
def test_avi_mjpeg_roundtrip_property(params):
    """For ANY clip (random frame counts/sizes, odd dimensions, odd-length
    JPEG payloads forcing RIFF pad bytes): encode_avi_mjpeg →
    iter_avi_mjpeg_frames must return the exact JPEG bytes that went in,
    in order — a byte diff means chunk sizes, pad handling, or idx1/movi
    layout is wrong."""
    import numpy as np

    from tsatool_app_spark.avi_codec import encode_avi_mjpeg, iter_avi_mjpeg_frames
    from tsatool_app_spark.jpeg_codec import encode_jpeg_baseline

    n, (w, h), seed, gray = params
    rng = np.random.default_rng(seed)
    frames = [
        encode_jpeg_baseline(
            rng.integers(0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8),
            quality=90,
        )
        for _ in range(n)
    ]
    avi = encode_avi_mjpeg(frames, w, h, fps=10)
    out = list(iter_avi_mjpeg_frames(avi))
    assert len(out) == n
    assert all(a == b for a, b in zip(out, frames))


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=2, max_value=10_000),  # truncation point
)
def test_jpeg_truncation_raises_only_valueerror(seed, cut):
    """Error contract under corruption: decoding ANY prefix of a valid
    JPEG either succeeds or raises ValueError — never IndexError /
    struct.error / KeyError.  This is what lets corpus pipelines catch one
    exception type and quarantine bad blobs."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import decode_jpeg, encode_jpeg_baseline

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = encode_jpeg_baseline(img, quality=85)
    cut = min(cut, len(data) - 1)
    try:
        decode_jpeg(data[:cut])
    except ValueError:
        pass  # the contract


# ---------------------------------------------------------------------------
# Dedup-first composition equivalence under random clone-heavy corpora
# ---------------------------------------------------------------------------

_words = st.sampled_from(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
)
_texts = st.lists(_words, min_size=6, max_size=18).map(" ".join)
_corpora = st.lists(
    st.tuples(_texts, st.integers(min_value=1, max_value=4)),  # (text, clones)
    min_size=2,
    max_size=6,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_corpora)
def test_dedup_first_equivalence_random(spark, corpus):
    """Property form of the dedup-first equivalence pins: on ANY corpus —
    random texts, random clone counts, near-dups arising by chance from
    the tiny vocabulary — near_dup_pairs_dedup_first emits exactly the
    raw LSH+verify pipeline's (id_a, id_b, jaccard) rows.  The fixed-case
    tests cover the designed shapes; this covers the shapes nobody
    designed."""
    from tsatool_app_spark.functions.dedup import (
        minhash_near_dup_pairs,
        near_dup_pairs_dedup_first,
        ngram_jaccard_pairs,
    )

    rows = []
    i = 0
    for text, clones in corpus:
        for _ in range(clones):
            rows.append((i, text))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_near_dup_pairs(docs, num_hashes=32, bands=16).select(
        "id_a", "id_b"
    )
    raw = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs, cands)
        .where("jaccard >= 0.8")
        .collect()
    }
    fast = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in near_dup_pairs_dedup_first(
            docs, min_jaccard=0.8, num_hashes=32, bands=16
        ).collect()
    }
    assert fast == raw


# Texts for the pair-verify reference: NULL, "", shorter than k, repeated
# shingles (tiny alphabet), a newline and a surrogate-pair character.
_verify_texts = st.one_of(st.none(), st.text(alphabet="ab \n😀", max_size=10))


def _shingle_set(text, k):
    if len(text) < k:
        return {text}
    return {text[i:i + k] for i in range(len(text) - k + 1)}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_verify_texts, min_size=1, max_size=6),
    pairs=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), max_size=10
    ),
    k=st.integers(1, 4),
)
@example(
    texts=[None, "", "ab", "aaaaaa", "ab\n😀ab"],
    # self pair, reversed pair, duplicate pair, an id with no text
    pairs=[(0, 0), (1, 1), (2, 3), (3, 2), (3, 3), (3, 4), (3, 4), (0, 4), (4, 7)],
    k=3,
)
def test_pair_overlap_matches_set_reference(spark, texts, pairs, k):
    """ngram_jaccard_pairs and ngram_containment_pairs equal a pure-Python
    shingle-set reference, one output row per candidate row whose two ids
    have a text.  A text shorter than k is its own one shingle; a NULL
    text has one shingle that matches nothing."""
    from tsatool_app_spark.functions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    cands = spark.createDataFrame(pairs, "id_a long, id_b long")
    jac, con = [], []
    for a, b in pairs:
        if a >= len(texts) or b >= len(texts):
            continue
        ta, tb = texts[a], texts[b]
        n_a = 1 if ta is None else len(_shingle_set(ta, k))
        n_b = 1 if tb is None else len(_shingle_set(tb, k))
        inter = (
            0 if ta is None or tb is None
            else len(_shingle_set(ta, k) & _shingle_set(tb, k))
        )
        jac.append((a, b, inter / (n_a + n_b - inter)))
        con.append((a, b, inter, min(n_a, n_b), inter / min(n_a, n_b)))
    got_jac = sorted(
        map(tuple, ngram_jaccard_pairs(docs, cands, shingle_k=k).collect())
    )
    got_con = sorted(
        map(tuple, ngram_containment_pairs(docs, cands, shingle_k=k).collect())
    )
    assert got_jac == sorted(jac)
    assert got_con == sorted(con)
