"""Exponential smoothers as resumable recurrences — pure Python floats over
numpy arrays, zero Spark imports (the kernel/ discipline).

Each kernel is ``f(x, params..., state=None) -> (out, state)``. A batch
caller runs a whole series in one call with ``state=None``; a streaming
caller runs each micro-batch in one call with the state the previous call
returned. Both evaluate the identical float64 expressions in the identical
order, so a series cut anywhere and carried across calls gives the same
bits as one call (tests/test_kernel_property.py pins it). ``state`` is a
plain tuple, stored as is by the streaming twins
(streaming/stream_rollup.py).

Python float arithmetic is IEEE double with no fused multiply-add, the
same rounding as numpy float64 scalars, so the DuckDB recursive-CTE
oracles replaying these recurrences agree to the last bit when the
multipliers are exact binary fractions (see operators/tsfuncs.py).
"""

from __future__ import annotations

import numpy as np


def ewma(x: np.ndarray, alpha: float, state: tuple | None = None):
    """s_0 = x_0, s_i = alpha*x_i + (1-alpha)*s_{i-1} (adjust=False).

    state = (s,), the last smoothed value; None before any input.
    Returns (s float64 array of len(x), state)."""
    beta = 1.0 - alpha
    s = None if state is None else state[0]
    out = []
    for v in np.asarray(x, dtype=np.float64).tolist():
        s = v if s is None else alpha * v + beta * s
        out.append(s)
    return np.array(out, dtype=np.float64), (None if s is None else (s,))


def holt_winters(x: np.ndarray, alpha: float, beta: float, gamma: float,
                 period: int, state: tuple | None = None):
    """Additive Holt-Winters:

        l_0 = x_0, b_0 = 0, s_0 = gamma*(x_0 - l_0)
        s_prev(i) = s_{i-period}  (0.0 while i < period)
        l_i = alpha*(x_i - s_prev) + (1-alpha)*(l_{i-1} + b_{i-1})
        b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}
        s_i = gamma*(x_i - l_i) + (1-gamma)*s_prev

    state = (level, trend, ring): ring holds the last ``period`` seasonals,
    oldest first. The zero-filled initial ring makes the warm-up implicit:
    s_prev reads a 0.0 slot until a full period has been seen.
    Returns ((level, trend, seasonal) float64 arrays, state)."""
    a, a1 = alpha, 1.0 - alpha
    b, b1 = beta, 1.0 - beta
    g, g1 = gamma, 1.0 - gamma
    if state is None:
        lv, tr, hist = None, 0.0, [0.0] * period
    else:
        lv, tr, hist = state[0], state[1], list(state[2])
    lvs, trs = [], []
    for i, v in enumerate(np.asarray(x, dtype=np.float64).tolist()):
        sp = hist[i]
        if lv is None:
            lv, se = v, g * (v - v)
        else:
            nl = a * (v - sp) + a1 * (lv + tr)
            tr = b * (nl - lv) + b1 * tr
            se = g * (v - nl) + g1 * sp
            lv = nl
        lvs.append(lv)
        trs.append(tr)
        hist.append(se)
    out = tuple(np.array(c, dtype=np.float64) for c in (lvs, trs, hist[period:]))
    return out, (None if lv is None else (lv, tr, hist[-period:]))
