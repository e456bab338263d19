"""Numeric core of distributed PCA — shared verbatim by the Spark
operator (operators/pca.py) and its Spark-free twin
(tools/make_goldens.py::pca_twin), so the driver differential exercises
only the Spark plumbing.

Exactness policy (SURVEY.md §7.5.1): float sums depend on reduction
order, so the second-moment (gram) accumulation runs over GRID-QUANTIZED
integers — floor(x * 2^20 + 0.5) — combined with arbitrary-precision
Python ints. The eigen-basis is then a deterministic function of the
input bytes at ANY parallelism. The eigendecomposition is kernel.vecmath's
cyclic Jacobi (a fixed operation sequence, so the basis is the same on
any CPU), and the per-row projection is ``vecmath.seq_dot(V - mean,
components.T)``: a sequential dimension fold, bit-identical between
Catalyst literal expressions and the numpy path.

Parity anchor: yatsm has no PCA analogue — this is task-brief
training-data-pipeline territory (embedding preprocessing before
clustering / ANN / near-dup at corpus scale).
"""

from __future__ import annotations

import numpy as np

from yatsm_spark.kernel.vecmath import eigh

#: quantization grid: ~6 decimal digits of an O(1)-scale embedding
QSCALE = 1 << 20


def quantize(V: np.ndarray) -> np.ndarray:
    """floor(x * 2^20 + 0.5) — round-half-up on the fixed grid; the same
    closed-form both engines can evaluate (np.round's banker rounding
    has no cheap SQL twin)."""
    return np.floor(np.asarray(V, dtype=np.float64) * QSCALE + 0.5).astype(np.int64)


def moments_from_quantized(Q: np.ndarray) -> tuple[int, list[int], list[int]]:
    """(n, S[d], G_tri[d(d+1)/2]) as EXACT Python ints.

    The gram is built from chunked int64 matmuls (numpy integer matmul is
    exact — no BLAS float path) with the chunk size chosen so no partial
    product sum can overflow int64, then combined in arbitrary precision.
    """
    Q = np.asarray(Q, dtype=np.int64)
    n, d = Q.shape
    qmax = int(np.abs(Q).max()) if n else 0
    chunk = max(1, (1 << 62) // max(1, qmax * qmax))
    G = np.zeros((d, d), dtype=object)
    S = np.zeros(d, dtype=object)
    for lo in range(0, n, chunk):
        part = Q[lo:lo + chunk]
        G += part.T @ part
        S += part.sum(axis=0, dtype=np.int64)
    tri = [int(G[i, j]) for i in range(d) for j in range(i, d)]
    return n, [int(s) for s in S], tri


def loadings_from_moments(n: int, S: list[int], G_tri: list[int],
                          k: int) -> tuple[list[float], np.ndarray, list[float]]:
    """(mean[d], components (d, k), eigenvalues[k]) from exact integer
    moments. Covariance cells are int/int divisions (correctly-rounded
    doubles of exact rationals); eigh is vecmath's cyclic Jacobi.
    Component sign convention: the largest-|loading| entry is positive,
    so the basis doesn't flip between otherwise-identical runs."""
    if n < 2:
        raise ValueError(f"PCA needs >= 2 rows, got {n}")
    d = len(S)
    if k < 1 or k > d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    denom = n * n * QSCALE * QSCALE
    C = np.empty((d, d), dtype=np.float64)
    t = 0
    for i in range(d):
        for j in range(i, d):
            num = n * G_tri[t] - S[i] * S[j]
            C[i, j] = C[j, i] = num / denom
            t += 1
    w, V = eigh(C)                                  # ascending
    w, comps = w[::-1][:k], V[:, ::-1][:, :k].copy()
    jstar = np.argmax(np.abs(comps), axis=0)
    comps *= np.where(comps[jstar, np.arange(k)] < 0, -1.0, 1.0)
    mean = [S[dd] / (n * QSCALE) for dd in range(d)]
    return mean, comps, [float(x) for x in w]
