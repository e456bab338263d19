"""Offline optimal changepoint detection over a rollup tier: PELT
(kernel/pelt.py) run per series through operators/series.py::per_series.
Complements the greedy online paths — kernel/ccdc.py's monitor
(arrival-order break tests) and streaming/stream_rollup.py's
online_monitor — with the globally optimal penalized segmentation of the
full series.

Meaningful on the DENSE tier (row positions = time). One shuffle on the
series key; O(n^2)-worst-case kernel bounded by ``max_n`` — downsample
(lttb / m4 / cascade) before segmenting longer series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.operators.series import per_conv, per_series


def burst_intervals(turns: DataFrame, s: float = 3.0,
                    gamma: float = 1.0,
                    max_n: int = 100_000) -> DataFrame:
    """Kleinberg two-state burst detection per conversation over RAW
    turn arrival times (kernel/bursts.py) — no tier, no binning. Long
    form: one row per burst with its rank, bounds (epoch micros AND
    timestamps), and event count. Series with no bursts emit nothing.
    One shuffle on the conv key; O(n) kernel per conv."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.bursts import kleinberg_bursts

    def fit(pdf):
        t_us = pdf["ts"].to_numpy(dtype="datetime64[us]") \
            .astype(np.int64)
        bursts = kleinberg_bursts(t_us, s, gamma)
        if not bursts:
            return None
        return pd.DataFrame({
            "conv_id": pdf.iloc[0, 0],
            "burst_ord": np.arange(1, len(bursts) + 1, dtype=np.int64),
            "start_us": [b[0] for b in bursts],
            "end_us": [b[1] for b in bursts],
            "burst_start": [pd.Timestamp(b[0], unit="us")
                            for b in bursts],
            "burst_end": [pd.Timestamp(b[1], unit="us")
                          for b in bursts],
            "n_events": [b[2] for b in bursts],
        })

    return per_series(turns.select("conv_id", "ts"), "conv_id", "ts", fit,
                      ["conv_id", "burst_ord long", "start_us long", "end_us long",
                       "burst_start timestamp", "burst_end timestamp",
                       "n_events long"],
                      max_n=max_n, name="burst_intervals")


def pelt_changepoints(tier: DataFrame, value_col: str = "turn_count",
                      penalty: float | None = None, min_size: int = 2,
                      max_n: int = 8192) -> DataFrame:
    """Long form: one row per detected changepoint with its 1-based
    rank, row index, the slot where the new segment starts, and the
    series' total changepoint count. Series with no changepoints emit
    nothing. ``penalty=None`` uses the kernel's per-series
    2*Var(x)*ln(n) default."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.pelt import pelt_core

    def fit(pdf):
        cps = pelt_core(pdf[value_col].to_numpy(dtype=np.int64),
                        penalty, min_size)
        if cps.size == 0:
            return None
        return pd.DataFrame({
            "conv_id": pdf.iloc[0, 0],
            "cp_ord": np.arange(1, cps.size + 1, dtype=np.int64),
            "idx": cps,
            "window_start": pdf["window_start"].iloc[cps].to_numpy(),
            "n_changepoints": np.int64(cps.size),
        })

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "cp_ord long", "idx long", "window_start",
                     "n_changepoints long"],
                    max_n=max_n, name="pelt_changepoints")
