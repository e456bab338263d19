"""The package's one owner of float-op order: every dense product,
least-squares solve, SPD solve and symmetric eigendecomposition in
``yatsm_spark`` goes through this module.

BLAS/LAPACK (``@``, ``np.dot``, ``np.linalg``) pick kernels by CPU at run
time and sum in a CPU-specific order, so the same input gave different
CCDC segments and PCA bases on different hosts. Every helper here runs a
fixed sequence of IEEE-754 operations that depends only on the input
shapes (SURVEY.md §7.5.1's float policy):

- ``seq_*`` fold over the short axis (dimensions, coefficients) one
  element at a time, in index order — the order of Catalyst's
  ``F.aggregate`` left fold ``((0 + v0*c0) + v1*c1) + ...``, so the
  IVF/PQ/PCA literal expressions and their numpy twins agree to the bit.
- ``gram``/``row_dot`` contract over rows with ``np.einsum(...,
  optimize=False)``: numpy's own loop, built for the SSE baseline and
  never handed to BLAS.
- ``normal_lstsq``/``chol_solve`` (Cholesky), ``lstsq`` (Householder QR)
  and ``eigh`` (cyclic Jacobi) are written out on those.
- ``snap6``/``micro6`` put a float on the 1e-6 grid the DuckDB oracles
  replay, ``floor(x·1e6 + 0.5)``; ``operators/grid.py`` has the Column
  form.

Rank-deficient rule, the one rule of every solver here: pivots are taken
in column order, and a column whose pivot is at most ``DEP_TOL`` times
its own scale depends on the columns before it; its coefficient is 0 and
it is left out of the solve (the least-squares fit on the independent
columns). The pivot is the Householder |R_jj| against the column norm,
or the Cholesky L_jj² against A_jj — a squared norm, so √DEP_TOL ≈ 3e-7
in norm terms, the floor below which normal equations cannot tell a
column from its neighbours.
"""

from __future__ import annotations

import math

import numpy as np

#: Relative pivot bound of the rank-deficient rule (module docstring).
DEP_TOL = 1e-13
#: ``seq_dot`` folds at most this many outputs on Python floats.
SMALL_DOT = 8
#: Cyclic Jacobi stops after this many sweeps even if not converged.
JACOBI_MAX_SWEEPS = 50


def seq_dot(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Ordered-fold dot products: V (n, d) × C (k, d) -> (n, k).

    acc_{i,j} = Σ_d V[i,d]·C[j,d] accumulated sequentially in dimension
    order — the same add sequence as Catalyst's per-row aggregate fold.
    Up to SMALL_DOT outputs the fold runs on Python floats (a numpy call
    per dimension costs more than the arithmetic there); both paths run
    the same IEEE multiply and add sequence, so they agree to the bit.
    """
    V = np.asarray(V, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    n, d = V.shape
    if n * C.shape[0] <= SMALL_DOT:
        Cl = C.tolist()
        return np.array([[_fold(v, c) for c in Cl] for v in V.tolist()],
                        dtype=np.float64).reshape(n, len(Cl))
    acc = np.zeros((n, C.shape[0]), dtype=np.float64)
    for dd in range(d):
        acc += V[:, dd : dd + 1] * C[:, dd][None, :]
    return acc


def _fold(v: list, c: list) -> float:
    acc = 0.0
    for x, y in zip(v, c):
        acc += x * y
    return acc


def seq_rowdot(V: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Row-by-row ordered-fold dot products: V, W (n, d) -> (n,), with
    Σ_d V[i,d]·W[i,d] folded sequentially in dimension order."""
    V = np.asarray(V, dtype=np.float64)
    W = np.asarray(W, dtype=np.float64)
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for dd in range(V.shape[1]):
        acc += V[:, dd] * W[:, dd]
    return acc


def seq_norm(V: np.ndarray) -> np.ndarray:
    """Ordered-fold L2 norms of the rows of V (n, d) -> (n,).

    sqrt(Σ_d v_d²) with the sum folded sequentially in dimension order —
    bit-identical to ``sqrt(aggregate(v, 0.0, (acc, x) -> acc + x*x))``.
    """
    return np.sqrt(seq_rowdot(V, V))


def cosine_sims_seqfold(V: np.ndarray, C: np.ndarray,
                        cnorms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sims, vnorms): rows-of-V × rows-of-C cosine matrix with every
    floating-point step in Catalyst fold order.

    sims[i, j] = seq_dot / (vnorm_i * cnorm_j) — multiply-then-divide,
    matching ``dot / (nrm * cn)`` in the literal-codebook expressions.
    ``cnorms`` is passed in (not recomputed) so the caller controls whether
    centroid norms came from Catalyst collect or from :func:`seq_norm` —
    either way the downstream arithmetic is identical.
    """
    vnorms = seq_norm(V)
    dots = seq_dot(V, C)
    return dots / (vnorms[:, None] * cnorms[None, :]), vnorms


def seq_sqdist(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Ordered-fold squared L2 distances: V (n, d) × C (k, d) -> (n, k).

    acc_{i,j} = Σ_d (V[i,d] - C[j,d])² accumulated sequentially in
    dimension order — the PQ train/encode/ADC primitive. Same fold
    discipline as seq_dot: bit-identical wherever the same sequence of
    IEEE adds runs (operator's mapInPandas batches AND the Spark-free
    golden twin)."""
    V = np.ascontiguousarray(V, dtype=np.float64)
    C = np.ascontiguousarray(C, dtype=np.float64)
    acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for dd in range(V.shape[1]):
        diff = V[:, dd][:, None] - C[:, dd][None, :]
        acc += diff * diff
    return acc


def gram(A: np.ndarray, B: np.ndarray | None = None) -> np.ndarray:
    """A·Bᵀ contracted over the long axis: A (k, n), B (m, n) -> (k, m);
    B defaults to A. Variables sit in rows (a design is passed as Xᵀ), so
    the sum runs along contiguous memory — Gram and moment sums."""
    A = np.ascontiguousarray(A, dtype=np.float64)
    B = A if B is None else np.ascontiguousarray(B, dtype=np.float64)
    return np.einsum("in,jn->ij", A, B, optimize=False)


def row_dot(a: np.ndarray, B: np.ndarray) -> np.ndarray:
    """aᵀ·B contracted over rows: a (n,), B (n,) -> scalar or (n, m) -> (m,)."""
    a = np.asarray(a, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    return np.einsum("n,n...->...", a, B, optimize=False)


def normal_lstsq(M: np.ndarray, k: int) -> tuple[list, list]:
    """Least squares from moments: (coef, sse) as Python lists (m rows of
    k coefficients, m residual sums of squares; per-window callers finish
    on floats faster than on tiny arrays), given the augmented Gram
    M = [X Y]ᵀ[X Y] of a k-column design X and m series Y.

    One Cholesky–Banachiewicz pass on Python floats factors XᵀX = L·Lᵀ,
    forward-solves z = L⁻¹·Xᵀy row by row below it, leaving the Schur
    complement sse = yᵀy - |z|², and back-substitutes the coef. Normal
    equations square κ(X): only centred moments belong here."""
    return _cholesky_rows(np.asarray(M, dtype=np.float64).tolist(), k)


def chol_solve(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Solve A·X = B for symmetric positive (semi)definite A (k, k); B is
    (k,) or (k, m). A stack of systems A (N, k, k), B (N, k[, m]) solves
    all N at once. A dropped column gets a 0 row in X.

    :func:`normal_lstsq`'s Cholesky with the columns of B as the rows
    below A — on Python floats for one system, on (N,) arrays for a stack,
    the same operations either way, so both give the same bits."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    k = A.shape[-1]
    Bm = B.reshape(A.shape[:-1] + (-1,))
    pad = [0.0] * Bm.shape[-1]
    if A.ndim == 2:
        rows = A.tolist() + [c + pad for c in Bm.T.tolist()]
        coef, _ = _cholesky_rows(rows, k)
        return np.array(coef, dtype=np.float64).T.reshape(B.shape)
    rows = [[A[..., i, j] for j in range(k)] for i in range(k)]
    rows += [[Bm[..., j, c] for j in range(k)] + pad for c in range(len(pad))]
    coef, _ = _cholesky_rows(rows, k, _array_div, _array_pivot)
    return np.stack([np.stack(x, axis=-1) for x in coef], axis=-1).reshape(B.shape)


def _float_div(s, p):
    return s / p if p else 0.0


def _float_pivot(s, a):
    # rank-deficient rule: L_ii = 0 drops column i (module docstring)
    return math.sqrt(s) if s > DEP_TOL * abs(a) else 0.0


def _array_div(s, p):
    return np.divide(s, p, out=np.zeros_like(s), where=p != 0)


def _array_pivot(s, a):
    return np.where(s > DEP_TOL * np.abs(a), np.sqrt(np.maximum(s, 0.0)), 0.0)


def _cholesky_rows(g: list, k: int, div=_float_div, pivot=_float_pivot):
    """The pass behind :func:`normal_lstsq` and :func:`chol_solve` on a
    list of rows g: rows < k are A, each later row i carries a right-hand
    side in its first k entries and its yᵀy at g[i][i]. Returns (coef,
    sse), one entry per right-hand side. Entries are floats, or arrays
    with the array ``div``/``pivot``."""
    L: list = []
    coef, sse = [], []
    for i, gi in enumerate(g):
        Li: list = []
        for j, Lj in enumerate(L):
            s = gi[j]
            for x, y in zip(Li, Lj):
                s = s - x * y
            Li.append(div(s, Lj[j]))
        s = gi[i]
        for x in Li:
            s = s - x * x
        if i < k:
            Li.append(pivot(s, gi[i]))
            L.append(Li)
            continue
        x_: list = [0.0] * k
        for r in range(k - 1, -1, -1):
            acc = Li[r]
            for q in range(r + 1, k):
                acc = acc - L[q][r] * x_[q]
            x_[r] = div(acc, L[r][r])
        coef.append(x_)
        sse.append(s)
    return coef, sse


def lstsq(X: np.ndarray, y: np.ndarray, w: np.ndarray | None = None) -> np.ndarray:
    """Least squares by Householder QR: argmin_b Σ w_i (y_i - x_i·b)²
    (w = 1 when omitted). X (n, k); y (n,) -> (k,) or (n, m) -> (k, m).

    QR works on X itself, not XᵀX, so an uncentred epoch-scale trend
    column (t ≈ 2e4 d over a window of hours, κ(XᵀX) ≈ 1e12) keeps its
    digits. Dependent columns follow the module's rank-deficient rule."""
    y = np.asarray(y, dtype=np.float64)
    sw = np.ones(len(y)) if w is None else np.sqrt(np.asarray(w, dtype=np.float64))
    R = np.asarray(X, dtype=np.float64) * sw[:, None]
    Q = y.reshape(len(y), -1) * sw[:, None]
    n, k = R.shape
    scale = np.sqrt(np.einsum("nk,nk->k", R, R, optimize=False))
    kept: list[int] = []
    for j in range(k):
        r = len(kept)
        if r == n:
            break
        v = R[r:, j].copy()
        norm = math.sqrt(row_dot(v, v))
        if norm <= DEP_TOL * scale[j]:
            continue
        alpha = -norm if v[0] > 0 else norm
        v[0] -= alpha
        beta = 2.0 / row_dot(v, v)
        rest = R[r:, j + 1:]
        rest -= v[:, None] * (beta * row_dot(v, rest))[None, :]
        Q[r:] -= v[:, None] * (beta * row_dot(v, Q[r:]))[None, :]
        R[r, j] = alpha
        kept.append(j)
    coef = np.zeros((k, Q.shape[1]), dtype=np.float64)
    for i in range(len(kept) - 1, -1, -1):
        j = kept[i]
        acc = Q[i].copy()
        for q in range(i + 1, len(kept)):
            acc -= R[i, kept[q]] * coef[kept[q]]
        coef[j] = acc / R[i, j]
    return coef[:, 0] if y.ndim == 1 else coef


def eigh(A: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(w, V) of a symmetric matrix A (d, d) by cyclic Jacobi: eigenvalues
    ascending, eigenvectors in the columns of V (``np.linalg.eigh``'s
    layout).

    Rotations run row-cyclically over (p, q), p < q; a rotation is skipped
    when |a_pq| is below rounding next to the diagonal, and the sweeps stop
    at the first one that applies no rotation."""
    A = np.array(A, dtype=np.float64)
    d = A.shape[0]
    V = np.eye(d)
    eps = np.finfo(np.float64).eps
    for _ in range(JACOBI_MAX_SWEEPS):
        rotated = False
        for p in range(d - 1):
            for q in range(p + 1, d):
                apq, app, aqq = float(A[p, q]), float(A[p, p]), float(A[q, q])
                if abs(apq) <= eps * math.sqrt(abs(app * aqq)):
                    continue
                rotated = True
                theta = (aqq - app) / (2.0 * apq)
                t = 1.0 / (abs(theta) + math.sqrt(theta * theta + 1.0))
                t = -t if theta < 0.0 else t
                c = 1.0 / math.sqrt(t * t + 1.0)
                s = t * c
                for M in (A, A.T, V):      # columns, rows, eigenvectors
                    mp, mq = M[:, p].copy(), M[:, q].copy()
                    M[:, p] = c * mp - s * mq
                    M[:, q] = s * mp + c * mq
                A[p, q] = A[q, p] = 0.0
        if not rotated:
            break
    w = A.diagonal().copy()
    order = np.argsort(w, kind="stable")
    return w[order], V[:, order]


def micro6(x):
    """``floor(x·1e6 + 0.5)`` of an array or a float: x in integer
    micro-units, held in float64, the numpy form of
    ``operators/grid.py::micro6`` (the same IEEE multiply, add and floor).
    Callers that sum them convert first, as ``int(micro6(x))``: Python
    ints keep sums and squares exact where an int64 could overflow."""
    return np.floor(x * 1e6 + 0.5)


def snap6(x):
    """``floor(x·1e6 + 0.5) / 1e6`` of an array or a float: x on the 1e-6
    grid, the numpy form of ``operators/grid.py::snap6``."""
    return micro6(x) / 1e6
