"""Distributed PCA over the embeddings table (``vec_id``, ``embedding``) —
the dimensionality reduction a training-data pipeline runs before
clustering / ANN / near-dup at corpus scale.

Scale shape (audited in BENCH/PLANS.md):

- **Moment pass** — one narrow scan; each Arrow batch emits its EXACT
  integer partial moments (1 + d + d(d+1)/2 cells as decimal strings),
  so the only exchange carries a few thousand sketch-sized rows per
  batch, never the corpus. The driver collect is the combined moment
  vector — ~2 k cells at d=64 — the same bounded-collect shape as the
  IVF codebook.
- **Projection pass** — per-row fold over the loadings, zero shuffle.
  Dual path like IVF assignment: Catalyst literal expressions while
  d*k stays small (plan-size bound LITERAL_LOADINGS_MAX_DOUBLES),
  broadcast-numpy ``mapInPandas`` beyond it (a 768x32 loading matrix is
  one 200 kB broadcast, not 25 k literal plan nodes). The two paths are
  bit-identical (sequential dimension fold both sides — pytest-pinned).

Cross-parallelism exactness: the moments are integer sums (associative,
commutative), so mean/covariance/loadings are identical at any
partitioning; the projection has no cross-row accumulation. The
eigendecomposition is kernel.vecmath's cyclic Jacobi, a fixed operation
sequence, so the basis does not depend on the host CPU either.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.kernel.pca_core import (
    QSCALE,
    loadings_from_moments,
    moments_from_quantized,
    quantize,
)
from yatsm_spark.kernel.vecmath import seq_dot
from yatsm_spark.operators.series import per_batch
from yatsm_spark.operators.vectors import matrix, valid

#: beyond this many d*k literal doubles, route projection through the
#: broadcast mapInPandas path (same plan-size rationale as the IVF
#: codebook bound, similarity.LITERAL_CODEBOOK_MAX_DOUBLES).
LITERAL_LOADINGS_MAX_DOUBLES = 4096


def _vec_dim(df: DataFrame) -> int:
    first = df.select(F.size(F.col("embedding")).alias("d")) \
              .filter(F.col("d") > 0).first()
    if first is None:
        raise ValueError("no non-empty vectors in column 'embedding'")
    return int(first.d)


def pca_moments(df: DataFrame, dim: int | None = None) -> tuple[int, list[int], list[int]]:
    """EXACT integer (n, S[d], G_tri) of the quantized corpus. Rows whose
    vector is null or length-mismatched are dropped (documented contract;
    mixed-dimension corpora must be split upstream)."""
    d = dim or _vec_dim(df)

    def moments(pdf):
        n, S, tri = moments_from_quantized(quantize(matrix(pdf["embedding"])))
        vals = [n] + S + tri
        return pd.DataFrame({"idx": range(len(vals)),
                             "val": [str(v) for v in vals]})

    combined = (per_batch(valid(df, d).select("embedding"), moments,
                          ["idx int", "val string"], name="pca_moments")
                   .groupBy("idx")
                   .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("v"))
                   .collect())
    cells = {r.idx: int(r.v) for r in combined}
    n = cells.get(0, 0)
    if n < 2:
        raise ValueError(f"PCA needs >= 2 rows, got {n}")
    S = [cells[1 + i] for i in range(d)]
    tri = [cells[1 + d + t] for t in range(d * (d + 1) // 2)]
    return n, S, tri


def pca_loadings(df: DataFrame, k: int):
    """(mean[d], components (d, k), eigenvalues[k]) — one moment pass
    plus O(d^3) driver work."""
    n, S, tri = pca_moments(df)
    return loadings_from_moments(n, S, tri, k)


def pca_project(df: DataFrame, k: int = 4, method: str = "auto",
                loadings=None) -> DataFrame:
    """(vec_id, pc_0..pc_{k-1}): mean-centered scores on the top-k principal
    axes. ``loadings`` (a ``pca_loadings`` result) can be passed to skip
    the moment pass (train once, project many)."""
    mean, comps, _eig = loadings or pca_loadings(df, k)
    d = len(mean)
    src = valid(df, d)
    if method == "auto":
        method = ("literal" if d * comps.shape[1]
                  <= LITERAL_LOADINGS_MAX_DOUBLES else "broadcast")

    if method == "literal":
        cols = []
        for c in range(comps.shape[1]):
            terms = [
                (F.element_at(F.col("embedding"), dd + 1).cast("double")
                 - F.lit(float(mean[dd]))) * F.lit(float(comps[dd, c]))
                for dd in range(d)
            ]
            # left-associated add in dimension order == the seqfold
            cols.append(reduce(lambda a, b: a + b, terms, F.lit(0.0))
                        .alias(f"pc_{c}"))
        return src.select(F.col("vec_id"), *cols)

    if method != "broadcast":
        raise ValueError(f"unknown pca method {method!r}")

    n_out = comps.shape[1]

    def project(pdf, payload):
        m, Cm = payload
        Y = seq_dot(matrix(pdf["embedding"]) - m, Cm.T)
        out = {"vec_id": pdf["vec_id"]}
        for c in range(n_out):
            out[f"pc_{c}"] = Y[:, c]
        return pd.DataFrame(out)

    return per_batch(src.select("vec_id", "embedding"), project,
                     ["vec_id", *(f"pc_{c} double" for c in range(n_out))],
                     name="pca_project",
                     payload=(np.asarray(mean, dtype=np.float64),
                              np.asarray(comps, dtype=np.float64)))
