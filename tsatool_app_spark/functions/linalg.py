"""Distributed linear algebra over embedding columns.

The workhorse is the Gram / second-moment matrix G = Xᵀ X: its (d × d)
size is independent of row count, so the scalable shape is per-partition
partial Gram matrices (one BLAS matmul per Arrow batch inside
``mapInPandas``) reduced by ONE groupBy over d² keys — the shuffle carries
d²·partitions cells, never the vectors.  PCA, whitening, and linear probes
all derive from G driver-side (d × d eigendecomposition is trivial once the
distributed pass is done).

Entries are integer-quantized (floor(x·scale), int64 accumulation) so the
result is exact and engine-portable — the same determinism rule the
similarity kernels use (functions/similarity.quantized_dot).

At 100 TB: one scan, no vector shuffle; int64 partial sums overflow only
past ~9e18, i.e. ~1e10 rows at scale=1000 with unit-norm vectors — at that
volume drop scale to 100 or split the reduce into two tiers.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_matrix(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Upper-triangle quantized Gram matrix: (i, j, g) with
    g = Σ_rows floor(x_i·scale)·floor(x_j·scale), i ≤ j.

    mapInPandas emits ONE d×d partial per Arrow batch (numpy int64
    matmul), so the downstream groupBy reduces d²-keyed partials —
    the standard distributed Xᵀ X decomposition."""

    def _partials(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * scale).astype(np.int64)
            g = q.T @ q  # (d, d) int64
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32), "g": g[iu, ju]}
            )

    partials = emb.select(vec_col).mapInPandas(_partials, "i int, j int, g long")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("g").cast("long").alias("g"))
        .orderBy("i", "j")
    )
