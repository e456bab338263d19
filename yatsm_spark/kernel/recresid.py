"""Recursive residuals (standardized one-step-ahead forecast errors).

Parity anchor: yatsm/regression/recresid.py::recresid [H] — itself a port of
R strucchange's ``recresid`` (SURVEY.md §2.8). Feeds the OLS-CUSUM omission
test (yatsm/algorithms/postprocess.py::omission_test [M]).

Definition (Brown, Durbin & Evans 1975): with beta_{r-1} the OLS fit on the
first r-1 rows,

    w_r = (y_r - x_r' beta_{r-1}) / sqrt(1 + x_r' (X_{r-1}' X_{r-1})^-1 x_r)

for r = k+1 .. n (k = number of regressors); cross-checked against
brute-force per-step OLS in tests/test_kernel_regression.py.
"""

from __future__ import annotations

import numpy as np

from yatsm_spark.kernel.vecmath import chol_solve, gram, lstsq, seq_rowdot


def recresid(X: np.ndarray, y: np.ndarray, span: int | None = None) -> np.ndarray:
    """Return the (n - span) recursive residuals.

    span defaults to k = X.shape[1] (minimum identifiable window).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, k = X.shape
    if span is None:
        span = k
    if span < k:
        raise ValueError(f"span={span} < n_features={k}")
    if n <= span:
        return np.empty(0, dtype=np.float64)

    # w_r needs beta_{r-1} and (X'X)^-1 x_r from the normal equations of
    # rows < r: running moment sums (cumsum), all n - span systems solved
    # by one stacked Cholesky — stable over long series, where rank-1
    # inverse updates drift. The start fit is QR on X0 itself: an
    # uncentred epoch-scale trend makes X0ᵀX0 nearly singular.
    X0, y0 = X[:span], y[:span]
    Xr, prev = X[span:], slice(span, n - 1)
    XtX = np.cumsum(np.concatenate(
        [gram(X0.T)[None], X[prev, :, None] * X[prev, None, :]]), axis=0)
    Xty = np.cumsum(np.concatenate(
        [gram(X0.T, y0[None, :]).T, X[prev] * y[prev, None]]), axis=0)
    sol = chol_solve(XtX, np.stack([Xty, Xr], axis=-1))
    beta, d = sol[..., 0], sol[..., 1]
    beta[0] = lstsq(X0, y0)
    fr = 1.0 + seq_rowdot(Xr, d)
    return (y[span:] - seq_rowdot(Xr, beta)) / np.sqrt(np.maximum(fr, 1.0))


def cusum_efp(w: np.ndarray) -> np.ndarray:
    """Empirical fluctuation process: cumulative sum of standardized recresids.

    Parity anchor: strucchange efp(type="Rec-CUSUM") semantics as used by
    yatsm/algorithms/postprocess.py::omission_test [M].
    """
    w = np.asarray(w, dtype=np.float64)
    if len(w) == 0:
        return w
    sigma = np.std(w, ddof=1) if len(w) > 1 else 1.0
    if sigma == 0:
        sigma = 1.0
    return np.cumsum(w) / (sigma * np.sqrt(len(w)))


def omission_test_stat(X: np.ndarray, y: np.ndarray) -> float:
    """Max |Rec-CUSUM| statistic for a fitted segment (higher = likelier
    missed break). Compared against the crit value by the caller."""
    w = recresid(X, y)
    if len(w) == 0:
        return 0.0
    return float(np.max(np.abs(cusum_efp(w))))
