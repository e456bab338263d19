"""CCDC-style sequential segmentation of an irregular multi-measure series.

Parity anchor: yatsm/algorithms/ccdc.py::CCDCesque [M] — train / monitor /
break loop re-derived from Zhu & Woodcock 2014 (RSE 144, "Continuous change
detection and classification") because /root/reference was empty at build
time (SURVEY.md §0, §7.5.5). The frozen fixtures in
tests/test_ccdc_kernel.py pin this implementation's exact outputs
(segment boundaries, break dates, coefficients, rmse) and serve as the
engine's golden spec, mirroring the reference's tests/algorithms/test_ccdc.py
golden-.npz strategy (SURVEY.md §5).

Semantics implemented (SURVEY.md §2.5 W1–W6, §2.2 F5):

W1  Training window grows from ``start`` until it holds >= min_obs
    observations AND spans >= min_span days.
W2  Stability test (paper eqs. 5–6): for every test series b,
        |slope_b| * span_days / (stability_crit * rmse_b)   < 1
        |resid_first_b|        / (stability_crit * rmse_b)  < 1
        |resid_last_b|         / (stability_crit * rmse_b)  < 1
    all three must hold; otherwise the window start advances by one.
W3  Monitor: score_i = || (y_b,i - yhat_b,i) / max(rmse_b, min_rmse) ||_2
    over test series; a break is declared when ``consecutive`` successive
    observations all score > threshold. Break date = first obs of the run.
W4  dynamic_rmse: rmse from the k obs closest in day-of-year to the
    monitored obs instead of whole-window rmse.
W5  Models are refit when the window has grown retrain_time days since the
    last fit.
W6  At end of series the open segment closes with break_day = 0.
F5  Online noise removal: a single over-threshold obs followed by an
    under-threshold obs is deleted as noise and never enters the model.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from yatsm_spark.kernel.design import harmonic_design
from yatsm_spark.kernel.fit import fit_series
from yatsm_spark.kernel.screen import multitemp_screen, lowess_screen
from yatsm_spark.kernel.vecmath import gram, normal_lstsq, seq_dot


@dataclass
class CCDCParams:
    """Configuration — defaults follow yatsm's CCDCesque config section [M]."""

    consecutive: int = 5
    threshold: float = 3.55
    min_obs: int = 16
    min_span: float = 365.25          # days the training window must cover
    retrain_time: float = 365.25      # days between refits
    stability_crit: float = 3.0       # paper's "3 x RMSE" initialization test
    min_rmse: float = 1e-6            # floor on rmse in score denominators
    harmonic_order: int = 1
    period: float = 365.25
    trend: bool = True
    estimator: str = "OLS"            # OLS | Lasso20 | rlm_maxiter10
    test_indices: tuple[int, ...] | None = None  # None = all series
    screening: str | None = "RLM"     # RLM | LOWESS | None
    screen_crit: float = 3.5
    dynamic_rmse: bool = False
    dynamic_rmse_k: int = 24          # obs closest in DOY used for W4
    reverse: bool = False             # O2: fit the series backwards


@dataclass
class Segment:
    start_day: float
    end_day: float
    break_day: float                  # 0.0 when the segment did not break
    coef: np.ndarray                  # (n_series, n_coef)
    rmse: np.ndarray                  # (n_series,)
    magnitude: np.ndarray             # (n_series,) median resid over break run
    n_obs: int
    start_idx: int = 0                # indices into the *screened* series
    end_idx: int = 0


@dataclass
class CCDCResult:
    segments: list[Segment] = field(default_factory=list)
    screened_out: np.ndarray | None = None  # bool mask on input obs (True=dropped)


def _dynamic_rmse(t, Y, lo, hi, coefs, t_mon, p: CCDCParams):
    """W4: rmse from the k training obs closest in DOY to t_mon."""
    doy = np.mod(t[lo : hi + 1], p.period)
    d = np.abs(doy - (t_mon % p.period))
    d = np.minimum(d, p.period - d)  # circular distance
    k = min(p.dynamic_rmse_k, hi - lo + 1)
    idx = np.argsort(d, kind="stable")[:k] + lo
    X = harmonic_design(t[idx], order=p.harmonic_order, period=p.period,
                        trend=p.trend)
    return np.sqrt(np.mean((Y[:, idx] - seq_dot(coefs, X)) ** 2, axis=1))


def ccdc_fit(t: np.ndarray, Y: np.ndarray, params: CCDCParams | None = None) -> CCDCResult:
    """Segment a series. t: (n_obs,) days (float, ascending); Y: (n_series,
    n_obs) or (n_obs,). Returns segments with per-series coefficients.

    The loop mirrors CCDCesque.fit's train→monitor→break progression
    (yatsm/algorithms/ccdc.py [M])."""
    p = params or CCDCParams()
    t = np.asarray(t, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    if Y.ndim == 1:
        Y = Y[None, :]
    if p.reverse:
        # O2: reversed-time run — negate so the axis is ascending again.
        t = -t[::-1]
        Y = Y[:, ::-1]

    order = np.argsort(t, kind="stable")
    t, Y = t[order], Y[:, order]
    n_series, n = Y.shape
    test_idx = list(p.test_indices) if p.test_indices is not None else list(range(n_series))

    # --- screening (F3/F4) on the first test series -----------------------
    keep = np.ones(n, dtype=bool)
    if p.screening == "RLM" and n >= 2 * p.min_obs:
        keep = multitemp_screen(t, Y[test_idx[0]], crit=p.screen_crit, period=p.period)
    elif p.screening == "LOWESS" and n >= 2 * p.min_obs:
        keep = lowess_screen(t, Y[test_idx[0]], crit=p.screen_crit)
    screened_out = ~keep
    t, Y = t[keep], Y[:, keep]
    n = len(t)

    result = CCDCResult(screened_out=screened_out)
    if n < p.min_obs:
        return result

    # Active-index array supports F5 noise deletion; deletions are rare
    # (isolated outliers), so np.delete's O(n) copy is fine.
    act = np.arange(n)

    start = 0            # positions within `act`
    here = p.min_obs - 1
    coefs = rmses = None
    last_fit_end = None  # t at which the current model was fitted
    trained = False

    def day(i):
        return t[act[i]]

    # The design matrix is a pure function of t — build it ONCE per series
    # and slice per window (the training/retrain loops fit thousands of
    # windows on segment-rich series; recomputing cos/sin per fit dominated
    # profile before this).
    X_full = harmonic_design(t, order=p.harmonic_order, period=p.period, trend=p.trend)
    fast_ols = p.estimator == "OLS"

    # While no noise deletion has happened, act == arange(n) and window
    # positions ARE indices: basic slices (views) replace fancy-index
    # copies in the training slide's hottest path. Flag flips permanently
    # at the first np.delete. Views are read-only here (the trend path
    # copies before mutating), so results are unchanged.
    act_arange = True

    def window(pos_lo, pos_hi):
        """Indices of act positions [pos_lo, pos_hi]: a basic slice (a
        view) while act == arange(n)."""
        return slice(pos_lo, pos_hi + 1) if act_arange else act[pos_lo : pos_hi + 1]

    # [X | Yᵀ]ᵀ, one row per variable: one Gram of a column block gives
    # every moment a fit needs (XᵀX, XᵀY, YᵀY), in vecmath's fixed order.
    k_cols = X_full.shape[1]
    Zt_full = np.vstack([X_full.T, Y])

    # --- one moment path for every OLS fit --------------------------------
    # Training fits and monitor refits solve the same running augmented
    # moments of the segment's rows, with the trend column taken about a
    # fixed origin: the day of the segment's first observation. t is
    # epoch-scale (~2e4 days) while windows span hours, so moments about
    # t = 0 make [1, t] nearly collinear (kappa(XtX) ~ 1e12) and no
    # translation of the sums afterwards gets the cancelled digits back;
    # about the origin the trend spans the segment only. For epoch-scale t
    # the difference t - origin is exact (Sterbenz), so shifting a series
    # by whole days leaves every trend value bit-identical.
    # A training fit resets the sums at the window start and solves. A
    # refit at cadence re-estimates on the WHOLE segment window [start, i)
    # (reference semantics) but adds only the rows passed since the
    # previous fit (one small Gram) and solves in O(k^3). Deleted noise obs
    # are never added (deletions only happen at positions >= the fit
    # frontier), so no removals are needed during monitoring.
    sums = {}

    def sums_add(pos_lo, pos_hi, reset=False):
        """Add the rows at act positions [pos_lo, pos_hi] to the sums;
        reset starts new sums with their origin at pos_lo's day."""
        if reset:
            sums.update(M=0.0, n=0, origin=day(pos_lo))
        Zw = Zt_full[:, window(pos_lo, pos_hi)]
        if p.trend:
            Zw = Zw.copy()
            Zw[1] -= sums["origin"]
        sums["M"] = sums["M"] + gram(Zw)
        sums["n"] += Zw.shape[1]

    def solve_moments():
        """(coefs, rmses) from the sums; the intercept shifts back to the
        global frame by the exact algebra a_global = a - slope * origin."""
        cf, sse = normal_lstsq(sums["M"], k_cols)
        if p.trend:
            for row in cf:
                row[0] -= row[1] * sums["origin"]
        return (np.array(cf, dtype=np.float64),
                np.array([math.sqrt(max(s, 0.0) / sums["n"]) for s in sse]))

    def fit_window(pos_lo, pos_hi):
        """Fit all series on act positions [pos_lo, pos_hi]; returns
        (coefs, rmses)."""
        if fast_ols:
            sums_add(pos_lo, pos_hi, reset=True)
            return solve_moments()
        idx = window(pos_lo, pos_hi)
        return fit_series(X_full[idx], Y[:, idx], p.estimator)

    def scores(cols, rm):
        """(scores, residuals) of the obs at indices cols under the current
        model with rmse rm: the W3 norm over test series, folded in
        test-series order."""
        resid = Y[:, cols] - seq_dot(coefs, X_full[cols])
        sq = 0.0
        for b in test_idx:
            v = resid[b] / max(rm[b], p.min_rmse)
            sq = sq + v * v
        return np.sqrt(sq), resid

    def score_obs(pos, run_start_pos):
        """Scalar score + residual for one obs (run extension / dynamic rmse)."""
        if p.dynamic_rmse:
            rm = _dynamic_rmse(t, Y, act[start], act[max(run_start_pos - 1, start)],
                               coefs, day(pos), p)
        else:
            rm = rmses
        sc, resid = scores(act[pos : pos + 1], rm)
        return sc[0], resid[:, 0]

    while here < len(act):
        # --- W1/W2 training -------------------------------------------------
        span_ok = (here - start + 1) >= p.min_obs and (day(here) - day(start)) >= p.min_span
        if not trained:
            if not span_ok:
                here += 1
                continue
            coefs, rmses = fit_window(start, here)
            span_days = day(here) - day(start)
            ends = act[[start, here]]
            end_resid = Y[:, ends] - seq_dot(coefs, X_full[ends])
            stable = True
            slope_col = 1 if p.trend else None
            for b in test_idx:
                denom = p.stability_crit * max(rmses[b], p.min_rmse)
                first, last = end_resid[b]
                if abs(first) / denom >= 1 or abs(last) / denom >= 1:
                    stable = False
                    break
                if slope_col is not None and abs(coefs[b][slope_col]) * span_days / denom >= 1:
                    stable = False
                    break
            if not stable:
                start += 1
                here = max(here, start + p.min_obs - 1)
                continue
            trained = True
            last_fit_end = day(here)
            last_sum_end = here + 1   # the training fit left the sums

        # --- W3 monitor, block-vectorized ------------------------------------
        # Between refits the model is FIXED, so scores for a whole block of
        # upcoming obs are one matrix product; runs/noise are resolved by
        # inspecting only the first over-threshold position (every True
        # triggers exactly one of break / delete / absorb-restart). This is
        # a pure re-expression of the reference's per-obs loop — identical
        # outputs, pinned by the frozen goldens.
        i = here + 1
        broke = False
        run_resids: list[np.ndarray] = []
        break_pos = -1
        while i < len(act):
            # W5 retrain cadence (checked at every scan position in the
            # sequential formulation; B below is the first position where
            # it could fire, so checking at block starts is equivalent).
            if day(i - 1) - last_fit_end >= p.retrain_time:
                if fast_ols:
                    sums_add(last_sum_end, i - 1)
                    last_sum_end = i
                    coefs, rmses = solve_moments()
                else:
                    coefs, rmses = fit_window(start, i - 1)
                last_fit_end = day(i - 1)

            # First position in [i-1, len(act)-1) whose day reaches the
            # retrain target. t[act] is ascending, so binary-search it
            # WITHOUT materializing the tail (the old
            # t[act[i-1:len(act)-1]] gather copied O(remaining) elements
            # per block — ~25% of kernel time on deletion-heavy series).
            target = last_fit_end + p.retrain_time
            if act_arange:
                j = int(np.searchsorted(t, target, side="left"))
                j = min(max(j, i - 1), len(act) - 1)
            else:
                lo_, hi_ = i - 1, len(act) - 1
                while lo_ < hi_:
                    mid = (lo_ + hi_) >> 1
                    if t[act[mid]] < target:
                        lo_ = mid + 1
                    else:
                        hi_ = mid
                j = lo_
            b_off = j - (i - 1)
            B = min(i + max(b_off, 1), len(act))

            blk = act[i:B]
            if p.dynamic_rmse:
                # per-position window-dependent rmse — scalar path (rare,
                # non-default; exactness over speed)
                over = np.zeros(len(blk), dtype=bool)
                blk_resid = np.empty((n_series, len(blk)))
                for q in range(len(blk)):
                    sc_q, r_q = score_obs(i + q, i + q)
                    over[q] = sc_q > p.threshold
                    blk_resid[:, q] = r_q
            else:
                sc, blk_resid = scores(blk, rmses)
                over = sc > p.threshold

            # In-block scan with deletion reuse (r6): the model is FROZEN
            # within a block, so after an F5 noise deletion the scores of
            # every LATER position are unchanged — the old code restarted
            # the outer loop (re-gather + re-matmul of the block tail per
            # deletion); now the scan continues inside the cached
            # over/blk_resid arrays. Bookkeeping: array index j maps to
            # act position i + j - ndel after ndel in-block deletions
            # (deletions happen left-to-right). The retrain recheck the
            # old restart performed is provably a no-op inside the block:
            # every position below B has predecessor day < target by the
            # b_off construction, and a deletion only moves predecessors
            # EARLIER. dynamic_rmse keeps the old restart (its per-obs
            # rmse window endpoint shifts when the predecessor is
            # deleted, so cached scores would be stale). Identical
            # outputs, pinned by the frozen goldens.
            j_scan = 0
            ndel = 0
            advanced = -1
            while True:
                tp = np.flatnonzero(over[j_scan:])
                if len(tp) == 0:
                    advanced = i + len(over) - ndel
                    break
                p_arr = j_scan + int(tp[0])
                pos = i + p_arr - ndel
                # count the True run from p_arr, extending past the block
                # edge with the same (frozen) model if needed
                run_resids = [blk_resid[:, p_arr]]
                q_arr = p_arr + 1
                while len(run_resids) < p.consecutive:
                    # dynamic_rmse: members after the first must score
                    # against the rmse window FROZEN at the run start (the
                    # sequential loop held `i` fixed during a run) — block
                    # scores used a per-position window, so always rescore
                    # scalar-ly here.
                    if q_arr < len(over) and not p.dynamic_rmse:
                        if over[q_arr]:
                            run_resids.append(blk_resid[:, q_arr])
                            q_arr += 1
                        else:
                            break
                    else:
                        g = i + q_arr - ndel
                        if g >= len(act):
                            break
                        sc_g, r_g = score_obs(g, pos)
                        if sc_g > p.threshold:
                            run_resids.append(r_g)
                            q_arr += 1
                        else:
                            break
                if len(run_resids) >= p.consecutive:
                    broke = True
                    break_pos = pos
                    break
                if len(run_resids) == 1:
                    # F5: isolated outlier → delete as noise; later scores
                    # are unchanged (model fixed), so just advance the
                    # in-block cursor. (Two-slice concatenate: np.delete's
                    # mask machinery cost ~50us/call at 53k calls.)
                    act = np.concatenate((act[:pos], act[pos + 1:]))
                    act_arange = False
                    if p.dynamic_rmse:
                        advanced = pos
                        break
                    ndel += 1
                    j_scan = p_arr + 1
                    continue
                # short run fizzled (< consecutive): absorb into the
                # segment; if the run crossed the block edge, re-enter the
                # outer loop exactly where the sequential code resumes
                if q_arr >= len(over):
                    advanced = i + q_arr - ndel
                    break
                j_scan = q_arr
            if broke:
                break
            i = advanced

        if broke:
            mags = np.median(np.stack(run_resids, axis=1), axis=1)
            result.segments.append(Segment(
                start_day=day(start), end_day=day(break_pos - 1),
                break_day=day(break_pos),
                coef=coefs.copy(), rmse=rmses.copy(), magnitude=mags,
                n_obs=break_pos - start,
                start_idx=int(act[start]), end_idx=int(act[break_pos - 1]),
            ))
            start = break_pos
            here = start + p.min_obs - 1
            trained = False
            continue
        else:
            # W6: series exhausted — close the final segment.
            end_pos = len(act) - 1
            result.segments.append(Segment(
                start_day=day(start), end_day=day(end_pos), break_day=0.0,
                coef=coefs.copy(), rmse=rmses.copy(),
                magnitude=np.zeros(n_series),
                n_obs=end_pos - start + 1,
                start_idx=int(act[start]), end_idx=int(act[end_pos]),
            ))
            break

    if p.reverse:
        for s in result.segments:
            s.start_day, s.end_day = -s.end_day, -s.start_day
            if s.break_day != 0.0:
                s.break_day = -s.break_day
    return result
