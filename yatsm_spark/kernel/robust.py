"""Robust linear regression (IRLS with Tukey bisquare weights, MAD scale).

Parity anchors (SURVEY.md §2.8 "Robust stats"):
- yatsm/regression/robust_fit.py::mad        [H]  scale = median(|r - med(r)|)/0.6745
- yatsm/regression/robust_fit.py::bisquare   [H]  w = (1-(r/c)^2)^2 for |r|<c else 0
- yatsm/regression/robust_fit.py::RLM        [H]  IRLS loop, default maxiter small
  (the packaged pickle is ``rlm_maxiter10`` — SURVEY.md §2.9)

Semantics re-derived from the public repo + standard M-estimation references;
values are pinned by the frozen fixtures in tests/test_robust.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from yatsm_spark.kernel.vecmath import lstsq, seq_dot

#: Consistency constant so MAD estimates sigma for Gaussian data.
MAD_C = 0.6745
#: Tukey bisquare tuning constant (95% Gaussian efficiency).
BISQUARE_C = 4.685
#: Numerical floor for the robust scale to avoid divide-by-zero.
EPS = np.finfo(np.float64).eps


def mad(r: np.ndarray, c: float = MAD_C) -> float:
    """Median absolute deviation about the median, scaled to sigma-hat."""
    r = np.asarray(r, dtype=np.float64)
    return float(np.median(np.abs(r - np.median(r))) / c)


def bisquare(r: np.ndarray, c: float = BISQUARE_C) -> np.ndarray:
    """Tukey biweight: (1 - (r/c)^2)^2 inside |r| < c, else 0."""
    r = np.asarray(r, dtype=np.float64)
    u = np.abs(r) < c
    return np.where(u, (1.0 - (r / c) ** 2) ** 2, 0.0)


@dataclass
class RLMResult:
    coef: np.ndarray      # (n_features,)
    weights: np.ndarray   # (n_obs,) final IRLS weights
    resid: np.ndarray     # (n_obs,) final residuals
    scale: float          # final MAD scale
    n_iter: int


def rlm_fit(
    X: np.ndarray,
    y: np.ndarray,
    maxiter: int = 50,
    tol: float = 1e-8,
    tuning: float = BISQUARE_C,
    scale_constant: float = MAD_C,
) -> RLMResult:
    """Iteratively-reweighted least squares with bisquare weights.

    Starts from OLS; each iteration rescales residuals by the MAD and
    reweights with the bisquare psi. Stops when coefficients move < tol
    (sup-norm) or maxiter reached (reference default for the packaged
    regressor is 10 — pass maxiter=10 for `rlm_maxiter10` parity).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    beta = lstsq(X, y)
    w = np.ones(len(y))
    scale = 0.0
    it = 0
    for it in range(1, maxiter + 1):
        resid = y - seq_dot(X, beta[None, :])[:, 0]
        scale = mad(resid, scale_constant)
        if scale < EPS:
            # Perfect fit (or constant residuals) — weights undefined; stop.
            w = np.ones(len(y))
            break
        w = bisquare(resid / scale, tuning)
        if w.sum() < X.shape[1]:
            # Too aggressive downweighting; fall back to previous beta.
            break
        beta_new = lstsq(X, y, w)
        if np.max(np.abs(beta_new - beta)) < tol:
            beta = beta_new
            break
        beta = beta_new
    resid = y - seq_dot(X, beta[None, :])[:, 0]
    return RLMResult(coef=beta, weights=w, resid=resid, scale=scale, n_iter=it)
