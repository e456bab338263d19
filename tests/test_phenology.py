"""A3 phenology: kernel metrics on synthetic diurnal series with a known
peak, and the per-segment field append through the Spark grouped-map
(graft of yatsm/phenology/longtermmean.py::LongTermMeanPhenology.fit)."""

import zlib

import numpy as np
import pandas as pd
import pytest


def _diurnal_series(days=7, peak_hour=14, width=3.0, base=2.0, amp=20.0, step=60):
    """Per-minute slot series whose rate follows a gaussian bump centered
    on peak_hour each day (no noise — metrics are then deterministic)."""
    n = days * 86400 // step
    epochs = np.arange(n, dtype=np.int64) * step
    hours = (epochs % 86400) / 3600.0
    d = np.minimum(np.abs(hours - peak_hour), 24 - np.abs(hours - peak_hour))
    y = base + amp * np.exp(-0.5 * (d / width) ** 2)
    return epochs, y


def test_kernel_finds_known_peak_and_halfmax():
    from yatsm_spark.kernel.phenology import diurnal_phenology

    epochs, y = _diurnal_series(peak_hour=14, width=3.0)
    m = dict(diurnal_phenology(epochs, y))
    assert m["peak_hour"] == 14
    assert m["pheno_nobs"] == len(y)
    # gaussian bump: half-max at peak +- width*sqrt(2 ln 2) ~ 3.53h
    assert 9 <= m["rise_hour"] <= 12
    assert 16 <= m["fall_hour"] <= 19
    assert m["rise_hour"] < 14 < m["fall_hour"]
    # profile predicts obs almost perfectly (no noise; hour binning +
    # circular smoothing leave ~0.5% unexplained)
    assert m["pheno_cor"] > 0.99
    assert m["peak_rate"] == pytest.approx(np.max(y), rel=0.05)


def test_spline_beats_ma_on_low_count_outlier():
    """The fixture round-2 VERDICT task 5 asks for: a noisy profile where
    the spline and the moving average DISAGREE, with the spline's answer
    asserted correct. One huge outlier observation in an otherwise barely-
    sampled hour: the count-weighted spline discounts it (weight 1 vs
    ~hundreds for the real bins) while the unweighted MA lets it displace
    the true 14h peak."""
    from yatsm_spark.kernel.phenology import diurnal_phenology

    epochs, y = _diurnal_series(days=5, peak_hour=14, width=3.0, base=2.0, amp=20.0)
    # drop all-but-one slot of hour 3, and make that one slot a spike
    hours = (epochs % 86400) // 3600
    keep = (hours != 3)
    keep[int(np.flatnonzero(hours == 3)[0])] = True
    epochs, y = epochs[keep], y[keep].copy()
    y[(epochs % 86400) // 3600 == 3] = 500.0

    spline = diurnal_phenology(epochs, y)                   # default smoother
    ma = diurnal_phenology(epochs, y, smoother="ma")
    assert ma["peak_hour"] in (2, 3, 4)  # fooled by the unweighted outlier
    assert ma["peak_rate"] > 100
    assert spline["peak_hour"] == 14     # count weights suppress it
    assert spline["peak_rate"] == pytest.approx(22.0, rel=0.15)


def test_spline_interpolates_empty_bins_periodically():
    """Bins with no observations get spline-interpolated values (the
    reference's periodic spline evaluates every DOY), including across the
    23->0 wrap."""
    from yatsm_spark.kernel.phenology import periodic_spline_smooth

    profile = np.full(24, np.nan)
    counts = np.zeros(24)
    for h, v in ((22, 10.0), (0, 12.0), (6, 2.0), (12, 2.0)):
        profile[h] = v
        counts[h] = 100.0
    sm = periodic_spline_smooth(profile, counts)
    assert not np.isnan(sm).any()
    # hour 23 sits between the 22h and 0h anchors, across the wrap
    assert min(profile[22], profile[0]) - 1 < sm[23] < max(profile[22], profile[0]) + 1
    assert sm[23] > sm[6]


def test_kernel_flat_series_degenerates_gracefully():
    from yatsm_spark.kernel.phenology import diurnal_phenology

    epochs = np.arange(5000, dtype=np.int64) * 60
    y = np.full(5000, 7.0)
    m = diurnal_phenology(epochs, y)
    assert m["peak_hour"] == 0          # tie -> smallest hour
    assert m["peak_rate"] == 7.0
    assert m["rise_hour"] == 0 and m["fall_hour"] == 23  # all at half-max
    assert m["pheno_cor"] == 0.0        # zero variance -> defined as 0
    assert m["pheno_nobs"] == 5000


def test_kernel_empty_and_allnan():
    from yatsm_spark.kernel.phenology import diurnal_phenology

    m = diurnal_phenology(np.array([], dtype=np.int64), np.array([]))
    assert m["peak_hour"] == -1 and m["pheno_nobs"] == 0
    m = diurnal_phenology(np.array([0, 60], dtype=np.int64),
                          np.array([np.nan, np.nan]))
    assert m["peak_hour"] == -1 and m["pheno_nobs"] == 0


GENTLE_CONVS = ("convA", "convB", "convC", "convD")


def _gentle_bump_counts(conv, salt=""):
    """Poisson counts around a +4 bump on base 10 (sd ~3.2), seeded from a
    stable function of the conv name (``hash`` of a str varies with
    PYTHONHASHSEED)."""
    epochs, y = _diurnal_series(days=4, peak_hour=14, width=4.0, base=10.0, amp=4.0)
    rng = np.random.default_rng(zlib.crc32((conv + salt).encode()))
    return epochs, rng.poisson(y)


def test_gentle_bump_premise_holds_across_seeds():
    """The premise of test_segments_carry_phenology_fields, checked with the
    numpy CCDC twin for 200 other seedings: the bump stays below the break
    threshold often enough that some conv keeps a segment longer than a
    day, and every such segment peaks near 14h. (A single conv breaks early
    on ~13% of seeds, so two convs failed ~1% of seedings; four do not.)"""
    import dataclasses

    from yatsm_spark.kernel.ccdc import ccdc_fit
    from yatsm_spark.kernel.phenology import diurnal_phenology
    from yatsm_spark.operators.changescore import CONV_PARAMS

    for salt in [""] + [f"/{i}" for i in range(200)]:
        peaks = []
        for conv in GENTLE_CONVS:
            epochs, counts = _gentle_bump_counts(conv, salt)
            t = epochs / 86400.0
            y = counts.astype(np.float64)
            for seg in ccdc_fit(t, y, dataclasses.replace(CONV_PARAMS)).segments:
                if seg.n_obs > 1440:
                    m = (t >= seg.start_day) & (t <= seg.end_day)
                    peaks.append(diurnal_phenology(epochs[m], y[m])["peak_hour"])
        assert peaks and all(abs(p - 14) <= 2 for p in peaks), (salt, peaks)


def test_segments_carry_phenology_fields(spark):
    """change_scores(phenology=True) appends the A3 fields per segment and
    leaves the base segmentation IDENTICAL to phenology=False."""
    from pyspark.sql import functions as F

    from yatsm_spark.operators.changescore import (
        PHENO_SEGMENT_SCHEMA,
        change_scores,
    )

    # four convs x 4 days of per-minute slots with a GENTLE 2pm diurnal
    # bump (see _gentle_bump_counts), so the segmenter keeps multi-day
    # segments and the phenology stage sees full cycles. (A sharp bump is
    # correctly segmented INTO the daily surges — tested implicitly above.)
    rows = []
    for conv in GENTLE_CONVS:
        epochs, counts = _gentle_bump_counts(conv)
        base = pd.Timestamp("2025-01-01")
        rows.append(pd.DataFrame({
            "conv_id": conv,
            "window_start": base + pd.to_timedelta(epochs, unit="s"),
            "turn_count": counts.astype("int64"),
        }))
    filled = spark.createDataFrame(pd.concat(rows))

    base_segs = change_scores(filled).orderBy("conv_id", "segment_id").toPandas()
    pheno = change_scores(filled, phenology=True).orderBy("conv_id", "segment_id").toPandas()
    assert [f.name for f in PHENO_SEGMENT_SCHEMA.fields] == list(pheno.columns)
    pd.testing.assert_frame_equal(pheno[base_segs.columns], base_segs)
    # long segments must see the diurnal cycle: peak near 14h
    long_segs = pheno[pheno["n_obs"] > 1440]
    assert len(long_segs) > 0
    assert ((long_segs["peak_hour"] - 14).abs() <= 2).all()
    # Poisson noise (sd ~3.2) on a +-4 profile bounds attainable r
    assert (long_segs["pheno_cor"] > 0.2).all()
    assert (long_segs["rise_hour"] < long_segs["fall_hour"]).all()


def test_relational_stats_match_numpy_twin(spark):
    """diurnal_stats (pure Catalyst) against an independent numpy
    recomputation on the same slots."""
    import pandas as pd

    from yatsm_spark.operators.phenology import diurnal_stats

    epochs, y = _diurnal_series(days=3, peak_hour=9, width=2.0)
    rng = np.random.default_rng(42)
    counts = rng.poisson(y).astype("int64")
    base = pd.Timestamp("2025-03-01")
    pdf = pd.DataFrame({
        "conv_id": "c1",
        "window_start": base + pd.to_timedelta(epochs, unit="s"),
        "turn_count": counts,
    })
    got = diurnal_stats(spark.createDataFrame(pdf), "turn_count").toPandas().iloc[0]

    hours = (epochs % 86400) // 3600
    prof = np.array([counts[hours == h].mean() for h in range(24)])
    assert got["peak_hour"] == int(np.argmax(prof))
    assert got["peak_rate"] == pytest.approx(prof.max(), abs=1e-6)
    half = (prof.max() + prof.min()) / 2
    above = np.flatnonzero(prof >= half)
    assert got["rise_hour"] == above[0] and got["fall_hour"] == above[-1]
    pred = prof[hours]
    assert got["pheno_cor"] == pytest.approx(np.corrcoef(counts, pred)[0, 1], abs=1e-5)
    assert got["pheno_nobs"] == len(counts)
