"""Remaining parity pieces: Helsinki-TZ month bucketing vs DuckDB, BPE-ish
token counts, embedding near-dup pairs."""

from __future__ import annotations

from datetime import datetime

import duckdb
import numpy as np
import pytest


def test_helsinki_month_matches_duckdb(spark):
    """P8: month bucketing AT TIME ZONE Europe/Helsinki — the DST-sensitive
    variant (observations_summary.sql:9) vs DuckDB with session TZ set."""
    from pyspark.sql import functions as F

    # timestamps straddling the Helsinki month boundary in UTC
    ts = [
        datetime(2018, 2, 28, 21, 30),  # 23:30 Helsinki → Feb
        datetime(2018, 2, 28, 22, 30),  # 00:30 Mar 1 Helsinki → Mar
        datetime(2018, 3, 31, 20, 59),  # 23:59 Helsinki (EEST) → Mar
        datetime(2018, 3, 31, 21, 0),   # 00:00 Apr 1 Helsinki → Apr
    ]
    df = spark.createDataFrame([(t,) for t in ts], "tfrom timestamp")
    got = sorted(
        r.m for r in df.select(
            F.month(F.from_utc_timestamp("tfrom", "Europe/Helsinki")).alias("m")
        ).collect()
    )
    # DuckDB mirror: session TZ must stay UTC so t::TIMESTAMPTZ reads the
    # naive value as UTC; timezone('Europe/Helsinki', …) then yields the
    # Helsinki wall time (≡ Spark from_utc_timestamp).
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    want = sorted(
        r[0]
        for r in con.execute(
            "SELECT month(timezone('Europe/Helsinki', t::TIMESTAMPTZ)) FROM (VALUES "
            + ", ".join(f"(TIMESTAMP '{t}')" for t in ts)
            + ") AS v(t)"
        ).fetchall()
    )
    assert got == [2, 3, 3, 4]
    assert want == got


def test_token_count_bpe_ish(spark):
    from tsatool_app_spark.functions.text import token_count_bpe_ish

    df = spark.createDataFrame(
        [(1, "Hello world, this is fine."), (2, "one  two")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_tokens_bpe_ish for r in token_count_bpe_ish(df).collect()}
    # "Hello world , this is fine ." → punctuation splits add tokens
    assert out[1] > 5
    assert out[2] == 2


def test_embedding_near_dup_pairs(spark):
    from tsatool_app_spark.functions.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(1)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.01     # cosine ≈ 1
    far = rng.standard_normal(16)                     # cosine ≈ 0
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in near]),
        (3, [float(x) for x in far]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dup_pairs(df, min_cosine=0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert not any(3 in p for p in pairs)


def test_embedding_auto_banding_and_hot_bucket_cap(spark):
    """r8: the default band geometry is self-sizing (band_bits='auto' via
    recommended_band_bits) and the banded self-join has the family-standard
    hot-bucket cap + audit.  A planted near-constant cluster (identical
    vectors land every copy in one (band, sig) bucket at ANY width) must be
    dropped by the cap and SURFACED by embedding_oversize_buckets — never
    silently exploded into O(d²) candidate pairs."""
    from tsatool_app_spark.functions.dedup import (
        embedding_near_dup_pairs,
        embedding_oversize_buckets,
    )

    rng = np.random.default_rng(7)
    hot = [float(x) for x in rng.standard_normal(16)]
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.01
    rows = [(i, hot) for i in range(100)] + [
        (1000, [float(x) for x in base]),
        (1001, [float(x) for x in near]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # cap below the hot-cluster size: its O(d²) pairs must NOT appear,
    # the honest pair (1000, 1001) must survive
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, min_cosine=0.9, max_bucket_size=50
        ).collect()
    }
    assert (1000, 1001) in pairs
    assert not any(a < 100 and b < 100 for a, b in pairs)
    # ... and the audit reports what was dropped (size-100 buckets, one
    # per band), while a cap above the cluster reports nothing
    audit = embedding_oversize_buckets(df, max_bucket_size=50).collect()
    # ≥100: the honest vectors can land in a hot bucket by chance
    assert audit and all(r.size >= 100 for r in audit)
    assert embedding_oversize_buckets(df, max_bucket_size=512).count() == 0
    # uncapped call still finds the hot cluster's pairs (completeness)
    full = embedding_near_dup_pairs(df, min_cosine=0.9, max_bucket_size=None)
    assert full.where("id_a < 100 AND id_b < 100").count() == 100 * 99 / 2
    # auto-resolution: tiny corpus → narrowest dividing width (4);
    # explicit n_vectors is honored without a count job
    from tsatool_app_spark.functions.dedup import _resolve_band_bits

    assert _resolve_band_bits("auto", df, 64, None, "vec_id") == 4
    assert _resolve_band_bits("auto", df, 64, 200_000, "vec_id") == 16
    assert _resolve_band_bits(8, df, 64, None, "vec_id") == 8
    # r9 (ADVICE r8 low): the sizing count is memoized on the frame —
    # repeated auto-resolution against the same DataFrame consults the
    # cache instead of re-running the count job (preseed a sentinel size
    # and observe it drive the geometry)
    assert df._tsa_sizing_counts["vec_id"] > 0
    df._tsa_sizing_counts["vec_id"] = 200_000
    assert _resolve_band_bits("auto", df, 64, None, "vec_id") == 16
    del df._tsa_sizing_counts["vec_id"]


def test_recommended_band_bits_rule():
    """The RHP-LSH geometry-scaling rule (r7 ANN rehearsal): smallest
    width dividing n_planes with expected random occupancy n/2^b under
    the target.  Pins the two rehearsal tiers and the monotone shape."""
    from tsatool_app_spark.functions.similarity import recommended_band_bits

    assert recommended_band_bits(2_000) == 8      # registry-tier corpora
    assert recommended_band_bits(20_000) == 16    # sf1 tier
    assert recommended_band_bits(200_000) == 16   # sf10 rehearsal tier
    assert recommended_band_bits(10_000_000) == 32
    assert recommended_band_bits(100) == 4
    # candidates are DIVISORS of n_planes (r8: not a fixed tuple): with 24
    # planes the widths are 4/6/8/12; none meets the occupancy target at
    # 200k vectors, so the widest amplifying divisor (12) is returned
    assert recommended_band_bits(200_000, n_planes=24) == 12
    # a single band of all planes is never proposed (no OR-amplification)
    assert recommended_band_bits(10**9, n_planes=16) == 8
    import pytest

    with pytest.raises(ValueError):
        recommended_band_bits(1_000, n_planes=6)  # no divisor in [4, 3]
    vals = [recommended_band_bits(n) for n in (10, 1_000, 50_000, 10**7)]
    assert vals == sorted(vals)


def test_embedding_near_dups_driver_query_recall(spark):
    """The driver-visible query plants 5 deterministic clones (vec_id +
    1_000_000, scaled ×1.001) over the vec_id % 20 == 0 subset: all 5
    planted pairs must be recovered — LSH recall on exact-scaled clones is
    certain, which is what makes the brute-force oracle comparison sound."""
    from tsatool_app_spark.plans.driver_queries import QUERIES

    out = QUERIES["embedding_near_dups"].fn(spark, "/root/testdata/sf0.001")
    got = {(r.id_a, r.id_b) for r in out.collect()}
    planted = {(v, v + 1_000_000) for v in (0, 20, 40, 60, 80)}
    assert planted <= got, f"missing planted pairs: {planted - got}"


def test_minhash_hot_bucket_cap(spark):
    """A mega-cluster of identical docs must not blow up the band self-join:
    with the default cap the cluster's buckets are dropped (O(d²) pairs
    avoided) while ordinary near-dup pairs elsewhere are still found."""
    from tsatool_app_spark.functions.dedup import minhash_near_dup_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep dark forest where nobody ever goes at night"
    )
    near = base.replace("lazy dog", "lazy cat")
    mega = "identical spam document repeated many times across the corpus body"
    rows = [(i, mega) for i in range(1000)] + [(2001, base), (2002, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_dup_pairs(df, num_hashes=64, bands=16).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (2001, 2002) in got          # normal near-dup still found
    assert not any(p[0] < 1000 for p in got)  # mega-cluster dropped, not exploded
    # uncapped on a small slice still works (sanity that the cap is the only gate)
    small = spark.createDataFrame(rows[:10] + rows[-2:], "doc_id long, text string")
    uncapped = minhash_near_dup_pairs(small, num_hashes=64, bands=16, max_bucket_size=None)
    assert uncapped.where("id_a < 1000 and id_b < 1000").count() == 45


def test_ivf_probe_audit_detects_degenerate_clustering(spark):
    """r8 (VERDICT r7 ask #6): the probed-fraction audit warns on an
    isotropic corpus (pruning premise broken) and stays quiet on a
    well-clustered one, with the fraction matching an exact recount."""
    import warnings

    from tsatool_app_spark.functions.similarity import (
        build_ivf_index,
        ivf_cluster_sizes,
        ivf_probe_audit,
    )

    rng = np.random.default_rng(3)
    # clustered: 4 tight blobs around orthogonal far-apart centers
    blobs = []
    for c in range(4):
        center = np.zeros(8)
        center[c] = 50.0
        for i in range(50):
            blobs.append((c * 100 + i, [float(x) for x in center + rng.standard_normal(8)]))
    clustered = spark.createDataFrame(blobs, "vec_id long, embedding array<float>")
    idx_c, cents_c = build_ivf_index(clustered, n_clusters=4, seed=1)
    q = [float(x) for x in np.eye(8)[0] * 50 + rng.standard_normal(8)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any UserWarning -> failure
        audit = ivf_probe_audit(idx_c, cents_c, q, nprobe=1)
    assert not audit["degenerate"]
    assert audit["probed_fraction"] <= 0.5
    assert audit["total_rows"] == 200

    # isotropic: standard normal, clustering is arbitrary slicing
    iso = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    idx_i, cents_i = build_ivf_index(iso, n_clusters=4, seed=1)
    sizes = ivf_cluster_sizes(idx_i)
    with pytest.warns(UserWarning, match="degenerate"):
        audit = ivf_probe_audit(
            idx_i, cents_i, [float(x) for x in rng.standard_normal(8)],
            nprobe=3, cluster_sizes=sizes,
        )
    assert audit["degenerate"] and audit["probed_fraction"] > 0.5
    # precomputed sizes agree with the in-audit recount path
    assert sum(sizes.values()) == 300
