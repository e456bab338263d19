"""Outlier screening of a time series before model training.

Parity anchors (SURVEY.md §2.2):
- F3 yatsm/masking.py::multitemp_mask [H, semantics from the CCDC paper
  §3.1 "multi-temporal masking"]: fit a robust (bisquare RLM) model with an
  annual harmonic to the series, drop observations whose residual exceeds a
  critical value. In the reference this runs on green (cloud: resid > crit)
  and SWIR1 (shadow: resid < -crit); the graft has a single non-negative
  turn-rate measure, so the screen is two-sided on scaled residuals.
- F4 yatsm/masking.py::smooth_mask [M]: same idea with a LOWESS smooth.
"""

from __future__ import annotations

import numpy as np

from yatsm_spark.kernel.design import harmonic_design
from yatsm_spark.kernel.robust import rlm_fit, mad
from yatsm_spark.kernel.vecmath import lstsq


def multitemp_screen(
    t: np.ndarray,
    y: np.ndarray,
    crit: float = 3.5,
    period: float = 365.25,
    maxiter: int = 10,
) -> np.ndarray:
    """Boolean keep-mask: True where the obs survives the robust screen.

    Fits RLM(y ~ 1 + t + harm(t,1)) and drops |resid| > crit * mad(resid).
    """
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if len(t) < 8:
        return np.ones(len(t), dtype=bool)
    X = harmonic_design(t, order=1, period=period)
    res = rlm_fit(X, y, maxiter=maxiter)
    scale = mad(res.resid)
    if scale <= 0:
        return np.ones(len(t), dtype=bool)
    return np.abs(res.resid) <= crit * scale


def lowess_screen(
    t: np.ndarray,
    y: np.ndarray,
    crit: float = 3.5,
    frac: float = 0.3,
    it: int = 2,
) -> np.ndarray:
    """LOWESS-smooth screen (F4). Local linear fits with tricube weights —
    a dependency-free lowess; statsmodels not required."""
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(t)
    if n < 8:
        return np.ones(n, dtype=bool)
    k = max(int(np.ceil(frac * n)), 3)
    fitted = np.empty(n)
    delta = np.ones(n)
    for _ in range(it + 1):
        for i in range(n):
            d = np.abs(t - t[i])
            idx = np.argsort(d, kind="stable")[:k]
            dmax = d[idx].max()
            # tricube (1 - u³)³ as products: np.power's SIMD kernels
            # round differently per CPU, a multiply does not
            u = d[idx] / (dmax if dmax > 0 else 1.0)
            v = 1 - u * u * u
            w = np.clip(v * v * v, 0, None) * delta[idx]
            if w.sum() <= 0:
                fitted[i] = y[i]
                continue
            # Weighted linear fit on the neighborhood.
            A = np.column_stack([np.ones(len(idx)), t[idx]])
            beta = lstsq(A, y[idx], w)
            fitted[i] = beta[0] + beta[1] * t[i]
        resid = y - fitted
        s = np.median(np.abs(resid))
        if s <= 0:
            break
        delta = np.clip(1 - (resid / (6.0 * s)) ** 2, 0, 1) ** 2
    resid = y - fitted
    scale = mad(resid)
    if scale <= 0:
        return np.ones(n, dtype=bool)
    return np.abs(resid) <= crit * scale
