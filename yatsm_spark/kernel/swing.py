"""Swinging-door trend compression (Bristol, 1990 — the PI-historian
algorithm) for one integer-valued series: keep a sparse chain of
archive points whose corridor ("doors") of half-width E covers every
dropped point. The lossy-but-bounded companion to the exact Gorilla
codec (kernel/gorilla_vec.py) in the retention family: old tiers can keep
a guaranteed-error sketch of the shape at a fraction of the points.

Error guarantee (the classical one, pinned exactly by tests): every
dropped point lies within E of SOME line through its anchor, and
within 2E of the archived polyline itself — the door corridor and the
archived segment can disagree by at most the door width. Callers that
need |error| <= D against the reconstruction should pass e = D // 2.

EXACT DECISIONS: the door test compares slopes held as integer
fractions via cross-multiplication — (a/b) vs (c/d) with b, d > 0
decided by a*d vs c*b over Python ints — so the archive-point choice
is bit-identical on any host/parallelism, no float epsilons anywhere.
Timestamps enter as integer microseconds, values as integers, E as an
integer in value units.

Convention (pinned by tests): when the doors close at point i, the
PREVIOUS point (i-1) is archived and becomes the new anchor, and the
doors reopen from it over point i — the textbook variant. The final
point is always archived, so reconstruction covers the full span.
"""

from __future__ import annotations

import numpy as np


def swing_compress(t_us: np.ndarray, x: np.ndarray,
                   e: int) -> np.ndarray:
    """Indices (into the time-sorted series) of the archive points.
    Always includes 0 and n-1 (n >= 2); a 1-point series keeps [0]."""
    if e < 0:
        raise ValueError("swing: error bound e must be >= 0")
    t = np.asarray(t_us, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64)
    n = t.size
    if n != x.size:
        raise ValueError("swing: t and x must have equal length")
    if np.any(t[1:] <= t[:-1]):
        raise ValueError("swing: timestamps must be strictly increasing")
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= 2:
        return np.arange(n, dtype=np.int64)
    keep = [0]
    a = 0                          # anchor index
    # doors as fractions (num, den), den > 0; None = not yet constrained
    up_n = up_d = lo_n = lo_d = None
    i = 1
    while i < n:
        dt = int(t[i] - t[a])
        hi = int(x[i]) + e - int(x[a])      # upper-door numerator
        lo = int(x[i]) - e - int(x[a])      # lower-door numerator
        if up_n is None:
            up_n, up_d, lo_n, lo_d = hi, dt, lo, dt
            i += 1
            continue
        # tighten: up = min(up, hi/dt), lo = max(lo, lo/dt)
        if hi * up_d < up_n * dt:
            up_n, up_d = hi, dt
        if lo * lo_d > lo_n * dt:
            lo_n, lo_d = lo, dt
        if lo_n * up_d > up_n * lo_d:       # doors crossed: lo > up
            a = i - 1
            keep.append(a)
            up_n = up_d = lo_n = lo_d = None
            # reopen over the CURRENT point from the new anchor
            continue
        i += 1
    if keep[-1] != n - 1:
        keep.append(n - 1)
    return np.asarray(keep, dtype=np.int64)


def swing_check_bound(t_us, x, keep, e: int) -> bool:
    """Exact rational verification of a reconstruction bound: every
    point is within ±e of the interpolation between its surrounding
    archive points — |(x-x0)*(t1-t0) - (x1-x0)*(t-t0)| <= e*(t1-t0),
    all in Python ints. Per the classical guarantee, compression with
    door half-width E satisfies this check at e = 2*E."""
    t = np.asarray(t_us, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64)
    keep = list(keep)
    for k0, k1 in zip(keep, keep[1:]):
        t0, x0 = int(t[k0]), int(x[k0])
        t1, x1 = int(t[k1]), int(x[k1])
        for i in range(k0 + 1, k1):
            lhs = (int(x[i]) - x0) * (t1 - t0) - (x1 - x0) * (int(t[i]) - t0)
            if abs(lhs) > e * (t1 - t0):
                return False
    return True
