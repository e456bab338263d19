"""Segment post-processing: commission test, omission test, robust refit.

Parity anchors (SURVEY.md §2.10):
- P1 yatsm/algorithms/postprocess.py::commission_test [M]: Chow F-test on
  adjacent segment pairs; merge when the pooled fit is not significantly
  worse than the split fit.
- P2 yatsm/algorithms/postprocess.py::omission_test [M]: OLS-CUSUM of
  recursive residuals per segment (strucchange semantics).
- P3 yatsm/algorithms/postprocess.py::refit_record [M]: re-estimate each
  segment with another estimator, yielding ``{prefix}_coef`` / ``{prefix}_rmse``.
"""

from __future__ import annotations

import numpy as np

from yatsm_spark.kernel.ccdc import Segment, CCDCParams
from yatsm_spark.kernel.design import harmonic_design
from yatsm_spark.kernel.fit import fit_series
from yatsm_spark.kernel.recresid import omission_test_stat
from yatsm_spark.kernel.vecmath import lstsq, row_dot, seq_dot


def _design(t, p: CCDCParams):
    return harmonic_design(t, order=p.harmonic_order, period=p.period, trend=p.trend)


def _sse(X, y):
    r = y - seq_dot(X, lstsq(X, y)[None, :])[:, 0]
    return float(row_dot(r, r))


def chow_f(t1, y1, t2, y2, p: CCDCParams) -> float:
    """Chow test F statistic for 'one model fits both windows'."""
    X1, X2 = _design(t1, p), _design(t2, p)
    Xp = np.vstack([X1, X2])
    yp = np.concatenate([y1, y2])
    k = Xp.shape[1]
    n = len(yp)
    if n <= 2 * k:
        return np.inf  # cannot pool — keep the break
    sse_pooled = _sse(Xp, yp)
    sse_split = _sse(X1, y1) + _sse(X2, y2)
    if sse_split <= 0:
        return np.inf
    return ((sse_pooled - sse_split) / k) / (sse_split / (n - 2 * k))


def commission_test(
    t: np.ndarray,
    Y: np.ndarray,
    segments: list[Segment],
    p: CCDCParams,
    crit: float = 3.0,
    test_series: int = 0,
) -> list[Segment]:
    """Merge adjacent segments whose Chow F < crit (false breaks). Re-fits
    the merged window and recomputes coef/rmse. Runs left-to-right,
    cascading merges like the reference's while-loop."""
    if Y.ndim == 1:
        Y = Y[None, :]
    segs = [s for s in segments]
    i = 0
    while i < len(segs) - 1:
        a, b = segs[i], segs[i + 1]
        m1 = (t >= a.start_day) & (t <= a.end_day)
        m2 = (t >= b.start_day) & (t <= b.end_day)
        f = chow_f(t[m1], Y[test_series, m1], t[m2], Y[test_series, m2], p)
        if f < crit:
            m = m1 | m2
            coefs, rmses = fit_series(_design(t[m], p), Y[:, m], p.estimator)
            merged = Segment(
                start_day=a.start_day, end_day=b.end_day, break_day=b.break_day,
                coef=coefs, rmse=rmses, magnitude=b.magnitude,
                n_obs=int(m.sum()), start_idx=a.start_idx, end_idx=b.end_idx,
            )
            segs[i : i + 2] = [merged]
        else:
            i += 1
    return segs


def omission_scores(
    t: np.ndarray, Y: np.ndarray, segments: list[Segment], p: CCDCParams,
    test_series: int = 0,
) -> list[float]:
    """Max |Rec-CUSUM| per segment — values above ~1.36 (5%) / 1.63 (1%)
    Brownian-bridge crit suggest a missed break (P2)."""
    if Y.ndim == 1:
        Y = Y[None, :]
    out = []
    for s in segments:
        m = (t >= s.start_day) & (t <= s.end_day)
        X = _design(t[m], p)
        out.append(omission_test_stat(X, Y[test_series, m]))
    return out


def refit_segments(
    t: np.ndarray, Y: np.ndarray, segments: list[Segment], p: CCDCParams,
    estimator: str = "rlm_maxiter10",
) -> list[dict]:
    """P3: per segment, refit every series with `estimator`; returns dicts
    {'coef': (n_series, n_coef), 'rmse': (n_series,)} aligned to segments —
    the `{prefix}_coef`/`{prefix}_rmse` fields of the reference record."""
    if Y.ndim == 1:
        Y = Y[None, :]
    out = []
    for s in segments:
        m = (t >= s.start_day) & (t <= s.end_day)
        coefs, rmses = fit_series(_design(t[m], p), Y[:, m], estimator)
        out.append({"coef": coefs, "rmse": rmses})
    return out
