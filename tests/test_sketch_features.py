"""Tests for count-min sketch, hashing-trick features, and
rational tf-idf (functions/sketches.py, mlprep.py, search.py)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from tsatool_app_spark.functions.mlprep import hashed_features
from tsatool_app_spark.functions.search import tfidf_topk
from tsatool_app_spark.functions.sketches import cms_build, cms_estimate


def test_cms_never_undercounts_and_is_tight_when_sparse(spark):
    vals = [1] * 50 + [2] * 7 + [3] * 1 + [9] * 20
    df = spark.createDataFrame([(v,) for v in vals], ["k"])
    sk = cms_build(df, "k", width=64, depth=4)
    probes = spark.createDataFrame([(k,) for k in [1, 2, 3, 9, 777]], ["k"])
    est = {r.key: r.est for r in cms_estimate(sk, probes, "k", width=64, depth=4).collect()}
    truth = Counter(vals)
    for k in [1, 2, 3, 9]:
        assert est[k] >= truth[k]
    # 4 distinct keys in a 64-wide sketch: collisions essentially impossible
    # across all 4 rows, so the min over rows is exact.
    assert est == {1: 50, 2: 7, 3: 1, 9: 20, 777: 0}


def test_cms_is_mergeable_by_cell_sum(spark):
    a = spark.createDataFrame([(v,) for v in [1] * 5 + [2] * 3], ["k"])
    b = spark.createDataFrame([(v,) for v in [1] * 4 + [3] * 2], ["k"])
    merged = (
        cms_build(a, "k").unionByName(cms_build(b, "k"))
        .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    full = cms_build(a.unionByName(b), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_hashed_features_deterministic_and_signed(spark):
    df = spark.createDataFrame(
        [(1, "x y x z"), (2, "x y x z"), (3, "")], ["doc_id", "text"]
    )
    out = hashed_features(df, n_buckets=16)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.bucket, r.weight))
    # identical docs -> identical sparse vectors; empty doc -> no triples
    assert by_doc.get(1) == by_doc.get(2)
    assert 3 not in by_doc
    # total absolute weight bounded by token count
    assert sum(abs(w) for _, w in by_doc[1]) <= 4


def test_tfidf_prefers_rare_terms(spark):
    rows = [
        (1, "common common common"),      # tf=3 of the common term
        (2, "rare"),                      # tf=1 of the rare term
        (3, "common"),
        (4, "common"),
        (5, "filler words only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_topk(df, ["common", "rare"], k=5).collect()
    # idf(common)=floor(1e6*5/3), idf(rare)=floor(1e6*5/1): doc 2's single
    # rare hit (5.0e6) outranks doc 1's three common hits (3*1.666e6).
    assert out[0].doc_id == 2
    assert out[0].score_q == 5_000_000
    assert out[1].doc_id == 1
    assert out[1].score_q == 3 * 1_666_666


def test_pearson_r_matches_numpy(spark):
    import numpy as np

    from tsatool_app_spark.functions.stats import corr_components, pearson_r

    rows = [(float(i), float(i * 2 + (i % 3)), float(10 - i)) for i in range(30)]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    comps = corr_components(df, ["a", "b", "c"], precision="decimal(18,6)")
    got = {(r.x_col, r.y_col): r.r for r in pearson_r(comps).collect()}
    data = np.array(rows)
    cols = {"a": 0, "b": 1, "c": 2}
    for (x, y), r in got.items():
        expect = np.corrcoef(data[:, cols[x]], data[:, cols[y]])[0, 1]
        assert abs(r - expect) < 1e-9, (x, y, r, expect)


def test_label_centroids_match_numpy(spark):
    import numpy as np

    from tsatool_app_spark.functions.similarity import label_centroids

    rows = [
        (1, [0.5, -0.25], 0),
        (2, [1.5, 0.75], 0),
        (3, [-1.0, 2.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.label, r.dim): (r.sum_q, r.n) for r in label_centroids(df).collect()}
    assert got == {
        (0, 0): (2_000_000, 2),   # floor(.5e6)+floor(1.5e6)
        (0, 1): (500_000, 2),     # floor(-250000)+floor(750000)
        (1, 0): (-1_000_000, 1),
        (1, 1): (2_000_000, 1),
    }
