"""Scalar local-level Kalman filter + RTS smoother — pure numpy, zero
Spark imports (the kernel/ discipline), zero BLAS reductions (scalar
recursions only, so summation order is fixed and the same bytes come out
on every host — see tools/make_goldens.py header).

Model (Harvey 1989 local level / random-walk-plus-noise):

    x_t = x_{t-1} + w_t,   w_t ~ N(0, q)
    y_t = x_t    + v_t,    v_t ~ N(0, r)

NaN observations are missing: the filter runs its predict step and skips
the update, which is exactly how gap slots should be treated when the
caller chooses NOT to read gap-filled zeros as real observations.

Emitted levels are snapped to the 1e-6 grid (``vecmath.snap6``, the
engine-wide float policy) AFTER the recursion, so the recursion dynamics
are untouched but persisted goldens compare exactly.
"""

from __future__ import annotations

import numpy as np

from yatsm_spark.kernel.vecmath import snap6


def kalman_filter(y: np.ndarray, q: float = 1.0, r: float = 4.0,
                  p0: float = 1e6, state: tuple | None = None):
    """Forward pass, resumable: ``(y, state) -> (out, state)``.

    With ``state=None`` the filter starts from the first observed value
    as its prior mean (a look-ahead: diffuse but deterministic, no
    data-dependent branching afterwards) with variance p0, and takes no
    predict step before row 0. A carried state (m, p) -- the UNSNAPPED
    posterior after the previous call's last row -- predicts before every
    row, so a series cut after its first observation and carried across
    calls gives the same bits as one call. The state stays None while
    nothing has been observed.

    Returns ((m_pred, p_pred, m_filt, p_filt) float64 arrays, state).
    """
    y = np.asarray(y, dtype=np.float64)
    if state is None:
        obs = np.flatnonzero(~np.isnan(y))
        if obs.size == 0:
            nan = np.full(y.size, np.nan)
            return (nan, nan.copy(), nan.copy(), nan.copy()), None
        (m, p), predict = (float(y[obs[0]]), p0), False
    else:
        (m, p), predict = state, True
    out = ([], [], [], [])
    for v in y.tolist():
        if predict:
            p = p + q
        predict = True
        out[0].append(m)
        out[1].append(p)
        if v == v:                      # NaN = missing: predict only
            k = p / (p + r)
            m = m + k * (v - m)
            p = (1.0 - k) * p
        out[2].append(m)
        out[3].append(p)
    return tuple(np.array(c, dtype=np.float64) for c in out), (m, p)


def kalman_local_level(y: np.ndarray, q: float = 1.0, r: float = 4.0,
                       p0: float = 1e6):
    """Filter + RTS-smooth one series.

    Parameters: y float array (NaN = missing), process variance q,
    observation variance r, diffuse initial variance p0 (the first
    observation essentially initializes the level).

    Returns (level, level_var, smoothed): the filtered mean/variance and
    the RTS-smoothed mean, all float64 arrays of len(y), micro-snapped.
    All-NaN input returns NaN arrays.
    """
    (m_pred, p_pred, m_filt, p_filt), state = kalman_filter(y, q, r, p0)
    n = m_filt.size
    if state is None:                   # empty or all-NaN
        return m_filt, p_filt, m_pred

    ms = np.empty(n)
    ms[n - 1] = m_filt[n - 1]
    for t in range(n - 2, -1, -1):
        c = p_filt[t] / p_pred[t + 1]
        ms[t] = m_filt[t] + c * (ms[t + 1] - m_pred[t + 1])

    return snap6(m_filt), snap6(p_filt), snap6(ms)
