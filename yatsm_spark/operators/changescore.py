"""W9: CCDC change scores / segments over per-conv rollup series.

Parity anchor: the whole per-pixel fit path of the reference —
yatsm/algorithms/ccdc.py::CCDCesque.fit driven by yatsm/cli/line.py's
per-pixel loop [M] (SURVEY.md §3.1) — re-expressed as ONE grouped-map
pandas UDF: Spark owns partitioning/shuffle/skew of conv groups (the
analogue of distribute_jobs, yatsm/utils.py::distribute_jobs [H]); the
numpy kernel owns sequence semantics. None of the reference's windows fit
fixed SQL frames (SURVEY.md §2.5 note), so applyInPandas is the idiomatic
Spark surface, not a compromise.

Scale notes:
- The kernel consumes ROLLUP points, not raw turns (rollup-first design,
  SURVEY.md §7.5.4): a conv alive for a week is <= 10k 1m points regardless
  of how many million turns it holds, bounding per-group memory.
- Groups shuffle once on conv_id, or not at all when the input is already
  conv-partitioned (the pipeline's cached 1m rollup). Arrow moves each
  group as columnar batches.
- Time axis handed to the kernel is DAYS (float64, exact for epoch/86400
  well past 2^53 ulp), so the CCDC math keeps its native units; the default
  harmonic period is 1 day (diurnal turn-rate seasonality) instead of the
  reference's 365.25-day annual cycle.
"""

from __future__ import annotations

from dataclasses import asdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from yatsm_spark.kernel.ccdc import CCDCParams, ccdc_fit
from yatsm_spark.kernel.gapfill import gapfill_slots
from yatsm_spark.operators.rollup import TIERS
from yatsm_spark.operators.series import per_conv

SEGMENT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("segment_id", T.IntegerType(), False),
    T.StructField("start_ts", T.TimestampType(), False),
    T.StructField("end_ts", T.TimestampType(), False),
    T.StructField("break_ts", T.TimestampType(), True),
    T.StructField("coef", T.ArrayType(T.DoubleType()), False),
    T.StructField("rmse", T.DoubleType(), False),
    T.StructField("magnitude", T.DoubleType(), False),
    T.StructField("n_obs", T.IntegerType(), False),
])

#: A3 phenology fields appended per segment (kernel/phenology.py — the
#: graft of yatsm/phenology/longtermmean.py::LongTermMeanPhenology.fit,
#: structured-array field append per SURVEY.md §2.4 / §3.2 map pheno).
PHENO_SEGMENT_SCHEMA = T.StructType(
    SEGMENT_SCHEMA.fields + [
        T.StructField("peak_hour", T.IntegerType(), False),
        T.StructField("peak_rate", T.DoubleType(), True),
        T.StructField("rise_hour", T.IntegerType(), False),
        T.StructField("fall_hour", T.IntegerType(), False),
        T.StructField("pheno_cor", T.DoubleType(), True),
        T.StructField("pheno_nobs", T.IntegerType(), False),
    ]
)

#: Multi-measure (multi-band) segment schema: one coef vector / rmse /
#: magnitude PER measure, in the caller's measure order — the graft of the
#: reference's multi-band record arrays (CCDCesque fits every band, tests
#: on test_indices; yatsm/algorithms/ccdc.py [M]).
MULTI_SEGMENT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("segment_id", T.IntegerType(), False),
    T.StructField("start_ts", T.TimestampType(), False),
    T.StructField("end_ts", T.TimestampType(), False),
    T.StructField("break_ts", T.TimestampType(), True),
    T.StructField("coefs", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    T.StructField("rmse", T.ArrayType(T.DoubleType()), False),
    T.StructField("magnitude", T.ArrayType(T.DoubleType()), False),
    T.StructField("n_obs", T.IntegerType(), False),
])


#: Graft defaults: 1m turn-rate series, daily harmonic, >=2h training span.
CONV_PARAMS = CCDCParams(
    consecutive=5,
    threshold=3.55,
    min_obs=16,
    min_span=2.0 / 24.0,      # days
    retrain_time=0.25,        # days
    period=1.0,               # daily cycle, in days
    harmonic_order=1,
    screening=None,           # rollup zeros are real observations
    # Floor the score denominator at 1.0 turn: counts are Poisson-ish, so
    # per-slot sd >= 1 whenever the rate is >= 1 — a lower floor makes
    # quiet windows hair-trigger (every burst = "break"), yielding
    # hundreds of meaningless segments per conv on bench data.
    min_rmse=1.0,
)


def _day_to_ts(day: float) -> pd.Timestamp:
    return pd.Timestamp(round(day * 86400.0), unit="s")


def _fit_input(pdf: pd.DataFrame, measures: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """One conv's time-sorted 1m slots, sparse or gap-filled -> (t in days,
    Y[measure, slot]) on its dense slot grid, over the slots where every
    measure is present: count measures without nulls travel as int64
    (0-filled), the rest as float (NaN-filled). NaN slots are dropped
    because the CCDC kernel fits a garbage segment to NaN input."""
    # datetime64 unit varies (ns via Arrow, us elsewhere) — normalize to
    # epoch seconds explicitly; slots are whole minutes so this is exact.
    epochs = pdf["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64)
    cols = {}
    for m in measures:
        a = pdf[m].to_numpy(dtype=np.float64, na_value=np.nan)
        cols[m] = a.astype(np.int64) if m.endswith("_count") and not np.isnan(a).any() else a
    dense = gapfill_slots(epochs, cols, step=TIERS["1m"])
    Y = np.vstack([np.asarray(dense[m], dtype=np.float64) for m in measures])
    t = dense["slot_epoch"] / 86400.0
    ok = ~np.isnan(Y).any(axis=0)
    return t[ok], Y[:, ok]


def _segment_row(conv_id: str, i: int, s) -> dict:
    """The per-segment fields every segment schema shares."""
    return {
        "conv_id": conv_id,
        "segment_id": i,
        "start_ts": _day_to_ts(s.start_day),
        "end_ts": _day_to_ts(s.end_day),
        "break_ts": _day_to_ts(s.break_day) if s.break_day else None,
        "n_obs": int(s.n_obs),
    }


def predict_at(segments: DataFrame, at, params: CCDCParams | None = None) -> DataFrame:
    """`yatsm map predict DATE` analogue (SURVEY.md §3.3): ŷ = X(d)·coef
    per segment, evaluated at timestamp `at`.

    X(d) is a CONSTANT vector (one date), so it is built driver-side with
    the SAME kernel design code that produced the coefficients
    (kernel/design.py::harmonic_design — column order is load-bearing) and
    folded against the stored coef array JVM-side via zip_with/aggregate:
    no UDF, no shuffle, exact fold order.

    Edge contract: a null, empty, or length-mismatched coef array yields
    a null `predicted` (zip_with pads the shorter side with null and the
    fold propagates it) — kernel-produced segments always length-match."""
    from yatsm_spark.kernel.design import harmonic_design

    p = params or CONV_PARAMS
    t_day = pd.Timestamp(at).timestamp() / 86400.0
    xd = harmonic_design(np.array([t_day]), order=p.harmonic_order,
                         period=p.period)[0]
    xcol = F.array(*[F.lit(float(v)) for v in xd])
    pred = F.aggregate(F.zip_with(F.col("coef"), xcol, lambda c, x: c * x),
                       F.lit(0.0), lambda acc, v: acc + v)
    return segments.withColumn("predicted", pred)


def change_scores(
    filled: DataFrame,
    measure: str = "turn_count",
    params: CCDCParams | None = None,
    phenology: bool = False,
) -> DataFrame:
    """Segments table from the 1m tier, sparse or gap-filled.

    measure: any rollup column; counts treat gap slots as real zeros,
    stat measures (null on gap slots) are dropped before fitting (the
    kernel must never see NaN — see .claude/skills/verify/SKILL.md).

    Each conv is reindexed onto its slot grid INSIDE the kernel
    (kernel/gapfill.py), so both forms give the same segments (tested); fed
    the sparse tier, the group shuffle moves only real slots (~1/8 of dense
    volume at bench skew).

    phenology=True appends the A3 long-term-mean diurnal fields per
    segment (PHENO_SEGMENT_SCHEMA; kernel/phenology.py) — computed inside
    the SAME grouped-map call on the already-shuffled slots, so the
    structured-array field append of the reference costs zero extra
    exchanges here.
    """
    p_dict = asdict(params or CONV_PARAMS)
    schema = PHENO_SEGMENT_SCHEMA if phenology else SEGMENT_SCHEMA

    def fit_conv(pdf: pd.DataFrame) -> pd.DataFrame | None:
        t, Y = _fit_input(pdf, [measure])
        y = Y[0]
        res = ccdc_fit(t, y, CCDCParams(**p_dict))
        rows = []
        for i, s in enumerate(res.segments):
            row = dict(_segment_row(pdf["conv_id"].iloc[0], i, s),
                       coef=list(map(float, s.coef[0])),
                       rmse=float(s.rmse[0]),
                       magnitude=float(s.magnitude[0]))
            if phenology:
                from yatsm_spark.kernel.phenology import diurnal_phenology

                seg = (t >= s.start_day) & (t <= s.end_day)
                row.update(diurnal_phenology(
                    np.round(t[seg] * 86400.0).astype(np.int64), y[seg]))
            rows.append(row)
        return pd.DataFrame(rows) if rows else None

    return per_conv(filled, [measure], fit_conv, schema, name="change_scores")


#: P1-P3 post-processing fields appended per (possibly merged) segment:
#: omission Rec-CUSUM score + robust-refit coef/rmse — the graft of the
#: reference's postprocess record transforms (commission_test /
#: omission_test / refit_record, yatsm/algorithms/postprocess.py [M]) as
#: a field append, SURVEY.md §2.10.
POST_SEGMENT_SCHEMA = T.StructType(
    SEGMENT_SCHEMA.fields + [
        T.StructField("omission_score", T.DoubleType(), False),
        T.StructField("robust_coef", T.ArrayType(T.DoubleType()), False),
        T.StructField("robust_rmse", T.DoubleType(), False),
    ]
)


def change_scores_post(
    filled: DataFrame,
    measure: str = "turn_count",
    params: CCDCParams | None = None,
    commission_crit: float | None = 3.0,
    refit_estimator: str = "rlm_maxiter10",
) -> DataFrame:
    """P1-P3 over the segments of :func:`change_scores`, in ONE grouped-map
    pass: fit the conv, optionally merge false breaks (commission Chow
    test, ``commission_crit``; ``None`` skips merging so the output rows
    align 1:1 with change_scores), then append the omission Rec-CUSUM
    score and a robust refit (coef + rmse under ``refit_estimator``) per
    surviving segment.

    Input (the 1m tier) and scale shape are change_scores' — the
    post-processing reuses the conv's already-shuffled, already-reindexed
    series in-kernel, so P1-P3 cost zero extra exchanges (the reference's
    record-array field appends have the same property). Raw doubles out:
    both sides of the driver differential (tools/make_goldens.py
    postprocess_twin) run the same kernel bits on the same series, so
    values are bit-identical."""
    from yatsm_spark.kernel.postprocess import (
        commission_test,
        omission_scores,
        refit_segments,
    )

    p_dict = asdict(params or CONV_PARAMS)

    def fit_conv(pdf: pd.DataFrame) -> pd.DataFrame | None:
        t, Y = _fit_input(pdf, [measure])
        y = Y[0]
        kp = CCDCParams(**p_dict)
        segs = ccdc_fit(t, y, kp).segments
        if commission_crit is not None:
            segs = commission_test(t, y, segs, kp, crit=commission_crit)
        om = omission_scores(t, y, segs, kp)
        rf = refit_segments(t, y, segs, kp, estimator=refit_estimator)
        rows = [dict(_segment_row(pdf["conv_id"].iloc[0], i, s),
                     coef=list(map(float, s.coef[0])),
                     rmse=float(s.rmse[0]),
                     magnitude=float(s.magnitude[0]),
                     omission_score=float(om[i]),
                     robust_coef=list(map(float, rf[i]["coef"][0])),
                     robust_rmse=float(rf[i]["rmse"][0]))
                for i, s in enumerate(segs)]
        return pd.DataFrame(rows) if rows else None

    return per_conv(filled, [measure], fit_conv, POST_SEGMENT_SCHEMA,
                    name="change_scores_post")


def change_scores_multi(
    filled: DataFrame,
    measures: list[str],
    params: CCDCParams | None = None,
    test_indices: list[int] | None = None,
) -> DataFrame:
    """Multi-band W9: fit EVERY measure's series jointly per conv; break
    when the pooled score over ``test_indices`` (default: all measures)
    exceeds the threshold — the reference's multi-band CCDCesque semantics
    (all bands share observation dates; break tests pool test bands).

    Observation alignment: after the in-kernel reindex of the sparse or
    gap-filled 1m tier (count measures 0-fill, float measures NaN on gap
    slots), any slot where ANY measure is NaN is dropped for every series —
    bands share dates exactly as the reference's acquisition-aligned raster
    bands do.

    Output carries one coef vector / rmse / magnitude per measure
    (MULTI_SEGMENT_SCHEMA), segment boundaries shared across measures.
    Same scale shape as change_scores: one conv-key shuffle of
    2+len(measures) pruned columns, whole conv per Arrow group.
    """
    from dataclasses import replace as _dc_replace

    p = params or CONV_PARAMS
    if test_indices is not None:
        p = _dc_replace(p, test_indices=tuple(test_indices))
    p_dict = asdict(p)

    def fit_conv(pdf: pd.DataFrame) -> pd.DataFrame | None:
        t, Y = _fit_input(pdf, measures)
        res = ccdc_fit(t, Y, CCDCParams(**p_dict))
        rows = [dict(_segment_row(pdf["conv_id"].iloc[0], i, s),
                     coefs=[list(map(float, s.coef[b])) for b in range(len(measures))],
                     rmse=[float(x) for x in s.rmse],
                     magnitude=[float(x) for x in s.magnitude])
                for i, s in enumerate(res.segments)]
        return pd.DataFrame(rows) if rows else None

    return per_conv(filled, measures, fit_conv, MULTI_SEGMENT_SCHEMA,
                    name="change_scores_multi")
