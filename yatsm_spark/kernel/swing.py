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


def swing_doors(t_us: np.ndarray, x: np.ndarray, e: int,
                state: tuple | None = None):
    """The door scan, resumable: ``(points, state) -> (kept, state)``.

    ``state`` is (a_t, a_x, p_t, p_x, up_n, up_d, lo_n, lo_d, has_doors):
    the anchor, the previous point and the open door fractions, all
    Python ints (den > 0). A point is confirmed as an archive point only
    once the series continues past it, so every confirmed point is the
    PREVIOUS one: ``kept`` holds indices into this call's points, where
    -1 names the carried previous point (the last point of the prior
    call). The series-final point is never confirmed here. Timestamps
    must be strictly increasing, across calls too: ``swing_compress``
    checks its input, the stream twin relies on its arrival-order
    contract.
    """
    kept = []
    st = state
    for i, (t, v) in enumerate(zip(np.asarray(t_us).tolist(),
                                   np.asarray(x).tolist())):
        if st is None:
            st = (t, v, t, v, 0, 0, 0, 0, False)
            continue
        a_t, a_x, p_t, p_x, up_n, up_d, lo_n, lo_d, hd = st
        if p_t == a_t:
            kept.append(i - 1)          # the series' first point
        while True:
            dt = t - a_t
            hi = v + e - a_x            # upper-door numerator
            lo = v - e - a_x            # lower-door numerator
            if not hd:
                up_n, up_d, lo_n, lo_d, hd = hi, dt, lo, dt, True
                break
            # tighten: up = min(up, hi/dt), lo = max(lo, lo/dt)
            if hi * up_d < up_n * dt:
                up_n, up_d = hi, dt
            if lo * lo_d > lo_n * dt:
                lo_n, lo_d = lo, dt
            if lo_n * up_d > up_n * lo_d:   # doors crossed: lo > up
                kept.append(i - 1)
                a_t, a_x, hd = p_t, p_x, False
                continue                # reopen over the CURRENT point
            break
        st = (a_t, a_x, t, v, up_n, up_d, lo_n, lo_d, hd)
    return kept, st


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
    keep, _ = swing_doors(t, x, e)
    if n:
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
