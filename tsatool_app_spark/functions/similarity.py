"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine/dot top-k — a single scan with a broadcast
query vector, JVM-side fold (F.aggregate/zip_with), no UDF.
Scale path: random-hyperplane LSH bucketing — signatures computed via a
broadcast plane matrix, candidates from bucket equi-joins, exact rerank on
the (small) candidate set. At 100 TB the brute force is one full scan per
query; LSH turns it into a bucket lookup.

Quantized integer dot product (:func:`quantized_dot`) exists for exact
cross-engine correctness checks: float accumulation order is engine-
dependent, int64 arithmetic is not.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def quantized_dot(a: Column, b: Column, scale: int = 1000) -> Column:
    """Integer dot product of floor(x*scale) quantized vectors.

    Exact int64 arithmetic — order-independent and engine-portable, unlike
    float sums; this is the oracle-checkable similarity (and mirrors int8
    quantization used by real ANN systems)."""
    qa = F.transform(a, lambda x: F.floor(x.cast("double") * scale))
    qb = F.transform(b, lambda x: F.floor(x.cast("double") * scale))
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )


def cosine_pairs_pandas_udf():
    """Vectorized cosine kernel for candidate-pair rerank: a pandas UDF that
    stacks each Arrow batch into 2-D numpy and does one matrix op per batch.

    Catalyst's higher-order functions (zip_with/aggregate) are interpreted
    per element — fine for one query vector against a scan, but a rerank of
    10⁵-10⁶ candidate PAIRS wants the Arrow→numpy path (~100× per row)."""
    from pyspark.sql.functions import pandas_udf

    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(dots / norms)

    return pandas_udf(_cos, "double")


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k against a literal query vector.

    The query vector becomes a literal array (broadcast with the plan); the
    scan computes one double per row JVM-side; top-k is a total orderBy+limit
    which Spark executes as per-partition top-k + single merge (TakeOrdered)
    — no full sort shuffle."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    sim = (
        cosine_similarity_col(F.col(vec_col), q)
        if metric == "cosine"
        else _dot(F.col(vec_col), q)
    )
    return (
        embeddings.select(id_col, sim.alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def build_ivf_index(
    embeddings: DataFrame,
    *,
    n_clusters: int = 16,
    sample_cap: int = 10_000,
    n_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: k-means centroids from a driver-side sample,
    cluster assignment as a vectorized pandas UDF (one matrix op per Arrow
    batch). Returns (indexed_df with a ``cluster`` column, centroids ndarray).

    At 100 TB the assignment is a narrow projection over one scan; persist
    the result partitioned/bucketed BY cluster so probes read only
    ``nprobe`` buckets (partition pruning does the index lookup).
    Training cost is bounded by ``sample_cap`` rows on the driver — the
    standard IVF recipe (sample → k-means → assign)."""
    import numpy as np

    sample = np.stack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in embeddings.select(vec_col).limit(sample_cap).collect()
        ]
    )
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_clusters, len(sample)), replace=False)]
    for _ in range(n_iter):  # Lloyd iterations on the sample
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)

    from pyspark.sql.functions import pandas_udf

    def _assign(vecs: pd.Series) -> pd.Series:
        import numpy as _np

        m = _np.stack(vecs.to_numpy()).astype(_np.float64)
        d = ((m[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(_np.int32))

    assign_udf = pandas_udf(_assign, "int")
    indexed = embeddings.withColumn("cluster", assign_udf(F.col(vec_col)))
    return indexed, centroids


def ivf_ann_topk(
    indexed: DataFrame,
    centroids,
    query_vec: list[float],
    k: int = 10,
    *,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank centroids against the query on the driver, scan only
    the ``nprobe`` nearest clusters (a literal IN filter — with
    cluster-partitioned storage this is partition pruning), exact cosine
    rerank on the candidates."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in d.argsort()[:nprobe]]
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        indexed.where(F.col("cluster").isin(probes))
        .select(id_col, cosine_similarity_col(F.col(vec_col), qcol).alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def ivf_cluster_sizes(indexed: DataFrame) -> dict[int, int]:
    """Per-cluster row counts of an IVF-indexed frame — one tiny
    aggregation (|clusters| rows to the driver).  Compute once per index
    and pass to :func:`ivf_probe_audit` so per-query audits are pure
    driver arithmetic."""
    return {
        int(r["cluster"]): int(r["n"])
        for r in indexed.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def ivf_probe_audit(
    indexed: DataFrame,
    centroids,
    query_vec: list[float],
    *,
    nprobe: int = 4,
    warn_fraction: float = 0.5,
    cluster_sizes: dict[int, int] | None = None,
) -> dict:
    """Degenerate-clustering guard for :func:`ivf_ann_topk` (r7 VERDICT
    ask #6): the fraction of the corpus a query's ``nprobe`` clusters
    actually contain.  IVF's pruning premise is that nearby vectors
    concentrate in few clusters; on an isotropic corpus the premise
    fails SILENTLY — the r7 sf10emb rehearsal measured nprobe=4/16
    probing 99.9 % of 200k vectors (recall exact, pruning gone).  This
    makes the failure observable: returns ``{"nprobe", "probed_rows",
    "total_rows", "probed_fraction", "degenerate"}`` and emits a
    ``UserWarning`` when the fraction exceeds ``warn_fraction`` —
    at that point brute force or LSH (:func:`lsh_ann_topk`, the
    pipeline default for unknown corpora) is the honest plan.

    ``cluster_sizes``: precomputed :func:`ivf_cluster_sizes`; when given,
    the audit runs entirely on the driver (no Spark job), so production
    query paths can audit every query for free."""
    import warnings

    import numpy as np

    if cluster_sizes is None:
        cluster_sizes = ivf_cluster_sizes(indexed)
    q = np.asarray(query_vec, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in d.argsort()[:nprobe]]
    total = sum(cluster_sizes.values())
    probed = sum(cluster_sizes.get(c, 0) for c in probes)
    frac = probed / total if total else 0.0
    degenerate = frac > warn_fraction
    if degenerate:
        warnings.warn(
            f"IVF probe covers {frac:.1%} of the corpus "
            f"({probed}/{total} rows in {nprobe} clusters) — clustering is "
            "degenerate for this query/corpus; pruning is not happening. "
            "Consider lsh_ann_topk or brute force.",
            UserWarning,
            stacklevel=2,
        )
    return {
        "nprobe": nprobe,
        "probed_rows": probed,
        "total_rows": total,
        "probed_fraction": frac,
        "degenerate": degenerate,
    }


def recommended_band_bits(
    n_vectors: int, n_planes: int = 64, target_bucket: int = 16
) -> int:
    """Band width for RHP-LSH banding that keeps random-collision buckets
    bounded as the corpus grows.

    A band of ``b`` bits hashes unrelated vectors together with
    probability ~1/2^b, so expected random bucket occupancy is
    n/2^b and candidate volume per band ~ 2^b * C(n/2^b, 2) ≈ n²/2^(b+1)
    — QUADRATIC with a constant that is only small while n ≲ 2^b.
    The sf10 ANN rehearsal measured the failure concretely: at 200k
    vectors the 8-bit default yields 756M candidate pairs (max bucket
    3100), while 16-bit bands yield 6.0M (max bucket 100) with recall
    on planted near-dups unaffected — identical vectors collide at any
    band width (scripts/rehearsal_sf10_ann.py, SCALING.md "r7 ANN
    rehearsal").  Rule: the smallest width dividing ``n_planes`` whose
    expected random occupancy n/2^b stays under ``target_bucket``.

    Candidate widths are the DIVISORS of ``n_planes`` with b ≥ 4 (narrower
    bands collide a quarter of random vectors — useless) and n_planes/b ≥ 2
    (at least two bands: a single band of all planes has no
    OR-amplification and its recall geometry is a different operator).
    When no candidate meets the occupancy target, the WIDEST candidate is
    returned — the most collision-resistant geometry available at this
    plane count that still amplifies; raise ``n_planes`` for more head
    room.  ``n_planes`` with no valid candidate at all (< 8, or prime)
    raises ValueError.  This is the resolver behind ``band_bits="auto"``
    on :func:`tsatool_app_spark.functions.dedup.embedding_near_dup_pairs`
    and :func:`lsh_ann_topk`."""
    candidates = [
        b for b in range(4, n_planes // 2 + 1) if n_planes % b == 0
    ]
    if not candidates:
        raise ValueError(
            f"n_planes={n_planes} has no band width b with 4 <= b <= "
            "n_planes/2; choose a plane count with such a divisor (e.g. 16, "
            "24, 32, 64)"
        )
    for b in candidates:
        if n_vectors / (1 << b) <= target_bucket:
            return b
    return candidates[-1]


def rhp_signatures(
    embeddings: DataFrame,
    *,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) signatures.

    Plane weights are deterministic (seeded) and live in the UDF closure
    (n_planes × dim doubles — tiny, shipped once per executor). Signature
    computation is ONE matrix multiply per Arrow batch inside a pandas UDF:
    Catalyst's higher-order functions evaluate per element interpreted,
    which at 64 planes × wide batches is ~100× slower than the
    Arrow→numpy path. Bits pack into an int64 with uint64 shifts (bit 63
    wraps to the sign bit — harmless, it's an opaque key)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    from pyspark.sql.functions import pandas_udf

    def _sig(vecs: pd.Series) -> pd.Series:
        import numpy as _np

        m = _np.stack(vecs.to_numpy()).astype(_np.float64)
        bits = (m @ planes.T) > 0  # (batch, n_planes)
        weights = _np.left_shift(
            _np.ones(planes.shape[0], dtype=_np.uint64),
            _np.arange(planes.shape[0], dtype=_np.uint64),
        )
        packed = (bits.astype(_np.uint64) * weights).sum(axis=1).astype(_np.int64)
        return pd.Series(packed)

    sig_udf = pandas_udf(_sig, "long")
    return embeddings.select(id_col, vec_col, sig_udf(F.col(vec_col)).alias("rhp_sig"))


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    n_planes: int = 16,
    band_bits: int | str = "auto",
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 LSH band with the query, then
    exact cosine rerank on candidates only.

    Bands of ``band_bits`` bits each → a vector is a candidate if ANY band
    matches the query's (classic OR-amplification). The candidate filter is
    a literal IN-list comparison per band (no join, no shuffle); rerank cost
    is |candidates|, not |corpus|.

    ``band_bits="auto"`` (default, r8) sizes the bands to the corpus via
    :func:`recommended_band_bits` so the expected candidate volume — the
    rerank cost, ~n_bands·n/2^b — stays bounded as n grows.

    **Query-serving paths: pass ``n_vectors``.**  Without it, "auto" runs
    one count() job over the id column the first time a corpus frame is
    seen — fine amortized over a batch pipeline, a real regression on a
    per-query serving path whose candidate filter is otherwise
    shuffle-free.  The count is memoized on the DataFrame object, so
    repeated queries against the SAME frame pay it once; a fresh frame
    per query (e.g. re-read from parquet) pays it per query unless
    ``n_vectors`` (or an explicit ``band_bits``) is given."""
    import numpy as np

    from tsatool_app_spark.functions.dedup import _resolve_band_bits

    band_bits = _resolve_band_bits(
        band_bits, embeddings, n_planes, n_vectors, id_col
    )
    dim = len(query_vec)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    qsig = 0
    for p in range(n_planes):
        if float(np.dot(planes[p], np.asarray(query_vec, dtype=float))) > 0:
            qsig |= 1 << p

    signed = rhp_signatures(
        embeddings, dim=dim, n_planes=n_planes, seed=seed, id_col=id_col, vec_col=vec_col
    )
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    band_match = None
    for b in range(n_bands):
        qband = (qsig >> (b * band_bits)) & mask
        cond = (
            F.shiftright(F.col("rhp_sig"), b * band_bits).bitwiseAND(F.lit(mask))
            == F.lit(qband)
        )
        band_match = cond if band_match is None else (band_match | cond)

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        signed.where(band_match)
        .select(id_col, cosine_similarity_col(F.col(vec_col), q).alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def label_centroids(
    emb: DataFrame,
    *,
    scale: int = 1_000_000,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid components of a vector column, in exact integer
    arithmetic: (label, dim, sum_q, n) with sum_q = Σ floor(x·scale).

    The embedding analytics rollup shape: posexplode fans each vector into
    (label, dim, component) rows at scan speed; ONE groupBy(label, dim)
    with map-side partial sums — at 100 TB the shuffle carries
    |labels|·|dims| partial rows per partition, never the vectors.
    Callers derive the float centroid as sum_q / scale / n at the edge."""
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * scale)).cast("long").alias("sum_q"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("label", "dim")
    )
