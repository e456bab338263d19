"""LTTB downsampling over rollup tiers — one per-series kernel pass per
conv (operators/series.py::per_series), emitting the n_out
visually-dominant slots of each series.

Scale shape: the only exchange is the per-conv grouping shuffle of the
(already aggregated) tier — slots, not raw turns — and the output is
<= n_out rows per conv regardless of series length, so downstream
(dashboards, plot exports) reads a bounded table. The selection kernel
(kernel/downsample.py) is shared verbatim with the golden twin; emitted
values are the tier's original integers (floats only pick indices).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark.kernel.downsample import lttb_frame
from yatsm_spark.kernel.swing import swing_compress
from yatsm_spark.operators.series import per_conv


def lttb(tier: DataFrame, value_col: str = "turn_count",
         n_out: int = 64) -> DataFrame:
    """(conv_id, window_start, value_col, pos): the LTTB-selected points
    of each series, pos = 0..k-1 in time order (k = min(n_out, series
    length)). Series shorter than n_out pass through whole."""
    if n_out < 3:
        raise ValueError("n_out must be >= 3")

    def fit(pdf):
        ts_ns = pdf["window_start"].astype("datetime64[ns]").astype("int64")
        sel, pos = lttb_frame(ts_ns.to_numpy(), pdf[value_col].to_numpy(),
                              n_out)
        out = pdf.iloc[sel].reset_index(drop=True)
        out["pos"] = pos
        return out

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "window_start", value_col, "pos int"],
                    name="lttb")


def m4_downsample(tier: DataFrame, value_col: str = "turn_count",
                  bucket_secs: int = 3600) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014 — the error-free
    line-chart reduction): per (series, time bucket) keep ONLY the rows
    that are the bucket's first, last, min-value, and max-value points,
    flagged is_first/is_last/is_min/is_max.

    Ties resolve deterministically (earliest slot wins for min AND max),
    so the output is an exact integer relation — pure Catalyst window
    plan, one shuffle, SQL-oracle-able with no floats anywhere. Output
    is <= 4 rows per bucket regardless of series density.
    """
    b = F.floor(F.unix_timestamp(F.col("window_start")) / bucket_secs) \
        .cast("long").alias("bucket")
    src = tier.select("conv_id", "window_start", value_col, b)
    v, t = F.col(value_col), F.col("window_start")
    part = ["conv_id", "bucket"]
    rn = {
        "is_min": Window.partitionBy(*part).orderBy(v.asc(), t.asc()),
        "is_max": Window.partitionBy(*part).orderBy(v.desc(), t.asc()),
        "is_first": Window.partitionBy(*part).orderBy(t.asc()),
        "is_last": Window.partitionBy(*part).orderBy(t.desc()),
    }
    out = src
    for flag, w in rn.items():
        out = out.withColumn(flag, F.row_number().over(w) == 1)
    return out.filter("is_min OR is_max OR is_first OR is_last")


def swing_door(tier: DataFrame, value_col: str = "turn_count",
               e: int = 2, max_n: int = 1_000_000) -> DataFrame:
    """Swinging-door trend compression per series (kernel/swing.py —
    Bristol 1990, the PI-historian retention codec): emit only the
    archive points whose E-half-width door corridor covers every
    dropped point (reconstruction by linear interpolation is within 2E
    everywhere — the classical guarantee, exact-integer-verified in
    tests). The lossy-but-bounded retention companion to the exact
    Gorilla chunks: old tiers keep the shape at a fraction of the
    points, with the error contract explicit.

    All door decisions are integer cross-multiplications — zero floats,
    so the kept-point set is bit-identical at any parallelism. One
    shuffle on the series key; O(n) kernel per conv."""
    def fit(pdf):
        t_us = pdf["window_start"].to_numpy(dtype="datetime64[us]") \
            .astype(np.int64)
        keep = swing_compress(t_us, pdf[value_col].to_numpy(np.int64), e)
        out = pdf.iloc[keep].reset_index(drop=True)
        out["pos"] = np.arange(len(keep), dtype=np.int64)
        out["n_in"] = np.int64(len(pdf))
        return out

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "window_start", value_col, "pos long",
                     "n_in long"],
                    max_n=max_n, name="swing_door")
