"""A3: long-term-mean diurnal phenology over a segment's turn-rate series.

Parity anchor: `yatsm/phenology/longtermmean.py::LongTermMeanPhenology.fit`
[M] (SURVEY.md §2.4 A3) — the reference groups a segment's observations by
day-of-year, builds the long-term-mean EVI profile, spline-smooths it, and
reports peak/half-max crossing dates plus the profile-vs-obs correlation.

The graft's annual cycle is the DIURNAL cycle of conversation turn rate
(period = 1 day, matching changescore.CONV_PARAMS), so day-of-year becomes
HOUR-of-day (24 bins):

  reference field -> graft field
  peak_doy        -> peak_hour   (argmax of smoothed profile)
  peak_evi        -> peak_rate
  spring_doy      -> rise_hour   (first hour at/above half-max)
  autumn_doy      -> fall_hour   (last  hour at/above half-max)
  pheno_cor       -> pheno_cor   (Pearson r of obs vs profile prediction)
  pheno_nobs      -> pheno_nobs

The reference smooths with a scipy periodic smoothing spline. The default
smoother here is the pure-numpy equivalent on the uniform 24-bin circle: a
PERIODIC CUBIC SMOOTHING SPLINE in its discrete form — minimize

    Σ_i w_i (f_i − p_i)² + λ Σ_i (f_{i−1} − 2 f_i + f_{i+1})²

(w_i = per-bin observation counts; the second-difference penalty is the
discrete ∫f″² of the cubic smoothing spline on a uniform periodic grid),
solved exactly via one 24×24 Cholesky solve. Bins with no observations get
weight 0 and are spline-INTERPOLATED, exactly as the reference's periodic
spline evaluates every DOY (round-2 VERDICT task 5). The round-2 circular
moving average remains available behind ``smoother="ma"``.
"""

from __future__ import annotations

import math

import numpy as np

from yatsm_spark.kernel.vecmath import chol_solve, gram

PHENO_FIELDS = ("peak_hour", "peak_rate", "rise_hour", "fall_hour",
                "pheno_cor", "pheno_nobs")


def _circular_smooth(profile: np.ndarray, window: int = 3) -> np.ndarray:
    """NaN-aware circular moving average over the 24-hour profile."""
    k = window // 2
    idx = (np.arange(24)[:, None] + np.arange(-k, k + 1)[None, :]) % 24
    vals = profile[idx]                      # (24, window)
    with np.errstate(invalid="ignore"):
        return np.nanmean(vals, axis=1)


def periodic_spline_smooth(profile: np.ndarray, counts: np.ndarray,
                           lam: float = 1.0) -> np.ndarray:
    """Discrete periodic cubic smoothing spline over the 24-bin circle.

    profile: per-bin means (NaN = empty bin); counts: per-bin observation
    counts (the fit weights — a bin seen once pulls far less than a bin
    seen hourly for months, matching the long-term-mean semantics of
    `LongTermMeanPhenology.fit`). Weights are normalized to mean 1 over
    observed bins so λ has a segment-length-independent meaning.

    Deterministic on any CPU: one Cholesky solve (kernel.vecmath) of the
    SPD system (diag(w) + λ·DᵀD), D the circular second-difference
    operator."""
    n = len(profile)
    obs = ~np.isnan(profile)
    if not obs.any():
        return np.full(n, np.nan)
    vals = profile[obs]
    if vals.max() == vals.min():
        # constant series is the exact minimizer; skip the solve so the
        # degenerate case stays bit-exact (no solver rounding).
        return np.full(n, float(vals[0]))
    w = np.where(obs, np.asarray(counts, dtype=np.float64), 0.0)
    w = w / w[w > 0].mean()
    y = np.where(obs, profile, 0.0)
    eye = np.eye(n)
    D = np.roll(eye, 1, axis=1) - 2.0 * eye + np.roll(eye, -1, axis=1)
    A = np.diag(w) + lam * gram(D.T)
    return chol_solve(A, w * y)


def diurnal_phenology(epoch_seconds: np.ndarray, y: np.ndarray,
                      smoother: str = "spline", lam: float = 1.0,
                      smooth_window: int = 3) -> dict:
    """Long-term-mean diurnal metrics for one segment's slot series.

    epoch_seconds: slot timestamps (any tier); y: measure values (NaN =
    missing). smoother: "spline" (periodic cubic smoothing spline, the
    reference-parity default) or "ma" (round-2 circular moving average).
    Returns dict of PHENO_FIELDS; all-NaN / empty input yields
    peak_hour = -1 sentinels (the reference leaves pheno fields zeroed for
    unfittable segments).
    """
    epoch_seconds = np.asarray(epoch_seconds, dtype=np.int64)
    y = np.asarray(y, dtype=np.float64)
    ok = ~np.isnan(y)
    n_obs = int(ok.sum())
    if n_obs == 0:
        return {"peak_hour": -1, "peak_rate": float("nan"), "rise_hour": -1,
                "fall_hour": -1, "pheno_cor": float("nan"), "pheno_nobs": 0}
    hours = ((epoch_seconds // 3600) % 24).astype(np.int64)
    yv, hv = y[ok], hours[ok]

    sums = np.bincount(hv, weights=yv, minlength=24)
    cnts = np.bincount(hv, minlength=24).astype(np.float64)
    with np.errstate(invalid="ignore"):
        profile = np.where(cnts > 0, sums / np.maximum(cnts, 1), np.nan)
    if smoother == "spline":
        smooth = periodic_spline_smooth(profile, cnts, lam=lam)
    elif smoother == "ma":
        smooth = _circular_smooth(profile, smooth_window)
    else:
        raise ValueError(f"unknown smoother {smoother!r}")

    filled = np.where(np.isnan(smooth), -np.inf, smooth)
    peak_hour = int(np.argmax(filled))           # ties -> smallest hour
    peak_rate = float(smooth[peak_hour])
    trough = float(np.nanmin(smooth))
    half_max = (peak_rate + trough) / 2.0
    at_or_above = filled >= half_max
    above_hours = np.flatnonzero(at_or_above)
    rise_hour = int(above_hours[0]) if len(above_hours) else -1
    fall_hour = int(above_hours[-1]) if len(above_hours) else -1

    pred = smooth[hv]
    pok = ~np.isnan(pred)
    if pok.sum() >= 2 and np.nanstd(pred[pok]) > 0 and np.std(yv[pok]) > 0:
        # Pearson r from centred cross products (np.corrcoef goes to BLAS)
        z = np.vstack([yv[pok], pred[pok]])
        G = gram(z - z.mean(axis=1, keepdims=True))
        pheno_cor = float(np.clip(G[0, 1] / math.sqrt(G[0, 0] * G[1, 1]), -1.0, 1.0))
    else:
        pheno_cor = 0.0
    return {"peak_hour": peak_hour, "peak_rate": peak_rate,
            "rise_hour": rise_hour, "fall_hour": fall_hour,
            "pheno_cor": pheno_cor, "pheno_nobs": n_obs}
