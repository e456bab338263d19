"""Kalman local-level smoothing per series: the state-space twin of the
EWMA/Holt exponential smoothers in operators/tsfuncs.py, with a proper
backward (RTS) pass — the classic "denoise the turn-rate series before
eyeballing or fitting it" step (Harvey 1989; same role as YATSM's robust
pre-screening of noisy observations, recast as state estimation).

Kernel: yatsm_spark/kernel/kalman.py (pure numpy scalar recursions — no
BLAS), run per series through operators/series.py::per_series. One
group shuffle; the recursion is inherently sequential per series, which
is exactly the per_series contract everywhere else in this engine (CCDC,
Holt, matrix profile): parallel across series, sequential within.

Oracle: a pure-numpy twin persisted as a golden parquet
(tools/make_goldens.py::kalman_twin) — the driver row is a genuine
differential over applyInPandas grouping/ordering/Arrow, like
tx_segments and tx_lttb.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from yatsm_spark.kernel.kalman import kalman_local_level
from yatsm_spark.operators.series import per_conv


def kalman_smooth(tier: DataFrame, value_col: str = "turn_count",
                  q: float = 1.0, r: float = 4.0,
                  max_n: int = 1 << 20) -> DataFrame:
    """Per-series local-level Kalman filter + RTS smoother over a dense
    tier. NULL values are missing observations (predict-only steps);
    gap-filled zeros are real observations of zero — the caller picks
    the semantics by what it feeds in. Emits (conv_id, window_start, value,
    kalman_level, kalman_var, kalman_smooth), levels micro-snapped by
    the kernel. Linear per series; ``max_n`` is a raising guard against
    runaway mega-series (the kernel is O(n) but driver-visible memory
    per group is bounded by it)."""
    def fit(pdf):
        y = pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan)
        level, var, smooth = kalman_local_level(y, q=q, r=r)
        return pdf.assign(kalman_level=level, kalman_var=var,
                          kalman_smooth=smooth)

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "window_start", value_col,
                     "kalman_level double", "kalman_var double",
                     "kalman_smooth double"],
                    max_n=max_n, name="kalman_smooth")
