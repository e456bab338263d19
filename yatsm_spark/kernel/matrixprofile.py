"""Matrix profile (Yeh et al., ICDM 2016 "Matrix Profile I") for one
integer-valued series — the all-pairs z-normalized Euclidean nearest-
neighbor distance per length-m subsequence. The profile's minimum marks
the top MOTIF pair (a repeated shape); its maximum marks the top
DISCORD (the most anomalous window) — the series-shape analogue of the
rolling z-test in operators/tsfuncs.rolling_anomaly, but comparing
whole windows instead of points.

Exactness discipline: every building block that CAN be an integer IS an
integer — window sums / sum-of-squares via int64 cumsum, dot products
QT via per-offset product cumsums — and floats enter only in the final
elementwise distance expression (no BLAS reductions anywhere, so the
result is reproducible across runs and hosts, unaffected by BLAS
summation order — the discipline kernel/vecmath.py now enforces for the
regression kernels too). Brute force O(n^2); series here are
per-conv tier slices (hundreds to low thousands of slots), and the
Spark operator bounds length with max_n.

Conventions (documented, pinned by tests):
- exclusion zone: neighbors with |i - j| <= excl are trivial matches
  and skipped; default excl = m // 2 (the Matrix Profile I convention).
- zero-variance windows (sigma == 0, decided on the EXACT integer
  m*Q - S^2) are excluded entirely: their own profile is NULL and they
  cannot be another window's neighbor (z-normalized distance to a flat
  window is undefined).
- ties: the neighbor at the smallest |i - j| wins; at equal offset the
  right-hand neighbor (j > i) wins. Updates use strict <, scanning
  offsets outward, right side first.
"""

from __future__ import annotations

import numpy as np


def matrix_profile_core(x: np.ndarray, m: int, excl: int | None = None):
    """Compute (mp, mpi) for all n-m+1 windows of integer series ``x``.

    Returns (mp float64, mpi int64) of length L = n - m + 1; mp is
    np.nan and mpi is -1 where no valid neighbor exists (short series,
    zero-variance window, or everything inside the exclusion zone).
    """
    x = np.asarray(x, dtype=np.int64)
    n = x.size
    if m < 2:
        raise ValueError("matrix_profile: window m must be >= 2")
    L = n - m + 1
    if L <= 0:
        return (np.empty(0, dtype=np.float64), np.empty(0, dtype=np.int64))
    if excl is None:
        excl = m // 2
    amax = int(np.abs(x).max()) if n else 0
    # all integer intermediates must stay exact in int64:
    # QT <= m * amax^2, varm = m*Q - S^2 <= m^2 * amax^2
    if amax > 0 and m * m * amax * amax >= 2 ** 62:
        raise ValueError("matrix_profile: values too large for exact "
                         "int64 moments; rescale the measure first")

    c1 = np.concatenate(([0], np.cumsum(x, dtype=np.int64)))
    c2 = np.concatenate(([0], np.cumsum(x * x, dtype=np.int64)))
    S = c1[m:] - c1[:-m]            # exact window sums        (len L)
    Q = c2[m:] - c2[:-m]            # exact window sum-squares (len L)
    varm = m * Q - S * S            # m^2 * sigma^2, exact int
    zerovar = varm == 0
    sig_m = np.sqrt(varm.astype(np.float64))   # m * sigma

    mp = np.full(L, np.inf, dtype=np.float64)
    mpi = np.full(L, -1, dtype=np.int64)
    two_m = 2.0 * m
    for d in range(excl + 1, L):
        p = x[:-d] * x[d:]                       # exact products
        cp = np.concatenate(([0], np.cumsum(p, dtype=np.int64)))
        QT = (cp[m:] - cp[:-m]).astype(np.float64)   # len L - d
        i = slice(0, L - d)
        j = slice(d, L)
        denom = sig_m[i] * sig_m[j]
        valid = ~zerovar[i] & ~zerovar[j]
        with np.errstate(invalid="ignore", divide="ignore"):
            r = (m * QT - S[i].astype(np.float64) * S[j]) / denom
            d2 = np.maximum(two_m * (1.0 - r), 0.0)
        dist = np.sqrt(d2)
        # right-hand neighbor first (ties at equal offset go right)
        better = valid & (dist < mp[i])
        mp[:L - d][better] = dist[better]
        mpi[:L - d][better] = np.flatnonzero(better) + d
        better = valid & (dist < mp[j])
        mp[d:][better] = dist[better]
        mpi[d:][better] = np.flatnonzero(better)
    none = ~np.isfinite(mp)
    mp[none] = np.nan
    mpi[none] = -1
    return mp, mpi


def ab_best_match(q: np.ndarray, y: np.ndarray, m: int):
    """AB-join best match: the (query-window, series-window) pair with
    the smallest z-normalized distance between series ``q`` and ``y``
    (no exclusion zone — distinct series). Returns (dist, qi, yj) or
    None when either side has no valid (nonzero-variance) window.

    Same exactness discipline as matrix_profile_core: integer window
    moments via cumsums, integer sliding dot products via np.correlate
    (direct C multiply-add on int64 — not BLAS, not FFT), floats only
    in the final elementwise correlation; ties resolve to the FIRST
    pair in (query-window, series-window) scan order."""
    q = np.asarray(q, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    if m < 2:
        raise ValueError("ab_best_match: window m must be >= 2")
    Lq, Ly = q.size - m + 1, y.size - m + 1
    if Lq <= 0 or Ly <= 0:
        return None
    amax = max(int(np.abs(q).max()), int(np.abs(y).max()))
    if amax > 0 and m * m * amax * amax >= 2 ** 31:
        # vq * vy below must stay inside int64
        raise ValueError("ab_best_match: values too large for exact "
                         "int64 moments; rescale the measure first")

    def moments(x, L):
        c1 = np.concatenate(([0], np.cumsum(x, dtype=np.int64)))
        c2 = np.concatenate(([0], np.cumsum(x * x, dtype=np.int64)))
        S = c1[m:] - c1[:-m]
        V = m * (c2[m:] - c2[:-m]) - S * S      # m^2 sigma^2, exact
        return S, V

    Sq, Vq = moments(q, Lq)
    Sy, Vy = moments(y, Ly)
    if not (Vy > 0).any():
        return None
    best_r, best = -np.inf, None
    neg = np.float64(-np.inf)
    for i in range(Lq):
        if Vq[i] == 0:
            continue
        QT = np.correlate(y, q[i:i + m], mode="valid")  # int64 exact
        num = (m * QT - int(Sq[i]) * Sy).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            r = num / np.sqrt((Vq[i] * Vy).astype(np.float64))
        r[Vy == 0] = neg
        j = int(np.argmax(r))                   # first max
        if r[j] > best_r:
            best_r, best = float(r[j]), (i, j)
    if best is None:
        return None
    d2 = max(2.0 * m * (1.0 - best_r), 0.0)
    return (float(np.sqrt(d2)), best[0], best[1])


def left_profile(x: np.ndarray, m: int, w_hist: int = 64,
                 excl: int | None = None):
    """LEFT matrix profile with bounded history — the novelty score the
    STREAMING twin can maintain online: each window's z-normalized
    distance to its nearest PRECEDING window within the last ``w_hist``
    windows (beyond the ``excl`` trivial-match zone). Unlike the full
    profile, no future window can lower a score after it is emitted,
    which is what makes it streamable with bounded state.

    Returns (lp, lpi) of length n-m+1: np.nan / -1 where the window is
    flat or has no valid candidate (cold start). Ties: the NEAREST (most
    recent) candidate wins — offsets scan outward with strict <.
    Exactness discipline identical to matrix_profile_core (same integer
    moments and per-offset product cumsums; the streaming twin replays
    THIS function over a ring, so parity is structural)."""
    x = np.asarray(x, dtype=np.int64)
    n = x.size
    if m < 2:
        raise ValueError("left_profile: window m must be >= 2")
    if w_hist < 1:
        raise ValueError("left_profile: w_hist must be >= 1")
    L = n - m + 1
    if L <= 0:
        return (np.empty(0, dtype=np.float64), np.empty(0, dtype=np.int64))
    if excl is None:
        excl = m // 2
    amax = int(np.abs(x).max()) if n else 0
    if amax > 0 and m * m * amax * amax >= 2 ** 62:
        raise ValueError("left_profile: values too large for exact "
                         "int64 moments; rescale the measure first")
    c1 = np.concatenate(([0], np.cumsum(x, dtype=np.int64)))
    c2 = np.concatenate(([0], np.cumsum(x * x, dtype=np.int64)))
    S = c1[m:] - c1[:-m]
    Q = c2[m:] - c2[:-m]
    varm = m * Q - S * S
    zerovar = varm == 0
    sig_m = np.sqrt(varm.astype(np.float64))
    lp = np.full(L, np.inf, dtype=np.float64)
    lpi = np.full(L, -1, dtype=np.int64)
    two_m = 2.0 * m
    for d in range(excl + 1, min(excl + w_hist, L - 1) + 1):
        p = x[:-d] * x[d:]
        cp = np.concatenate(([0], np.cumsum(p, dtype=np.int64)))
        QT = (cp[m:] - cp[:-m]).astype(np.float64)
        i = slice(0, L - d)          # left neighbor j = t - d
        j = slice(d, L)              # the window being scored
        denom = sig_m[i] * sig_m[j]
        valid = ~zerovar[i] & ~zerovar[j]
        with np.errstate(invalid="ignore", divide="ignore"):
            r = (m * QT - S[i].astype(np.float64) * S[j]) / denom
            d2 = np.maximum(two_m * (1.0 - r), 0.0)
        dist = np.sqrt(d2)
        better = valid & (dist < lp[j])
        lp[d:][better] = dist[better]
        lpi[d:][better] = np.flatnonzero(better)
    none = ~np.isfinite(lp)
    lp[none] = np.nan
    lpi[none] = -1
    return lp, lpi
