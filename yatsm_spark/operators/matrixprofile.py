"""Matrix-profile operators: per-series motif/discord discovery over a
rollup tier (kernel/matrixprofile.py run per series through
operators/series.py::per_series), and the relational extrema reduction
that turns the long-form profile into one motif + discord row per series.

Meaningful on the DENSE tier (like acf / seasonal_decompose): window
positions are ROW positions, so gaps must be materialized as slots
first (rollup_gapfilled) for "window" to mean "contiguous span of
time". Scale shape: one shuffle on the series key; the O(n^2) kernel is
vectorized numpy per conv and bounded by ``max_n`` — downsample
(lttb / m4 / cascade to a coarser tier) before profiling longer series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.operators.series import per_conv


def matrix_profile(tier: DataFrame, value_col: str = "turn_count",
                   m: int = 24, excl: int | None = None,
                   max_n: int = 8192) -> DataFrame:
    """Long-form matrix profile: one row per length-``m`` window with
    the window's start slot, its z-normalized nearest-neighbor distance
    ``mp`` and that neighbor's window index ``mp_idx`` (NULL / NULL for
    zero-variance or neighborless windows). Conventions and exactness
    discipline: see kernel/matrixprofile.py."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.matrixprofile import matrix_profile_core

    def fit(pdf):
        L = len(pdf) - m + 1
        if L <= 0:
            return None
        mp, mpi = matrix_profile_core(
            pdf[value_col].to_numpy(dtype=np.int64), m, excl)
        out = pd.DataFrame({
            "conv_id": pdf.iloc[0, 0],
            "idx": np.arange(L, dtype=np.int64),
            "window_start": pdf["window_start"].iloc[:L].to_numpy(),
            "mp": mp,
            "mp_idx": pd.array([None if v < 0 else int(v) for v in mpi],
                               dtype="Int64"),
        })
        # NaN -> NULL (Spark treats NaN as a value, the twin writes NULL)
        out["mp"] = pd.array([None if not np.isfinite(v) else float(v)
                              for v in mp], dtype="Float64")
        return out

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "idx long", "window_start", "mp double",
                     "mp_idx long"],
                    max_n=max_n, name="matrix_profile")


def left_matrix_profile(tier: DataFrame, value_col: str = "turn_count",
                        m: int = 12, w_hist: int = 64,
                        excl: int | None = None,
                        max_n: int = 8192) -> DataFrame:
    """Left matrix profile with bounded history (novelty score): each
    window's distance to its nearest PRECEDING window within the last
    ``w_hist`` — the batch side of the streaming discord detector
    (streaming/stream_rollup.py::stream_left_profile replays the SAME
    kernel over a value ring, so parity is structural). Long form like
    ``matrix_profile``; NaN-scored (cold-start / flat) windows emit
    NULL."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.matrixprofile import left_profile

    def fit(pdf):
        L = len(pdf) - m + 1
        if L <= 0:
            return None
        lp, lpi = left_profile(
            pdf[value_col].to_numpy(dtype=np.int64), m, w_hist, excl)
        return pd.DataFrame({
            "conv_id": pdf.iloc[0, 0],
            "idx": np.arange(L, dtype=np.int64),
            "window_start": pdf["window_start"].iloc[:L].to_numpy(),
            "lp": pd.array([None if not np.isfinite(v) else float(v)
                            for v in lp], dtype="Float64"),
            "lp_idx": pd.array([None if v < 0 else int(v) for v in lpi],
                               dtype="Int64"),
        })

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "idx long", "window_start", "lp double",
                     "lp_idx long"],
                    max_n=max_n, name="left_matrix_profile")


def ab_join_profile(tier: DataFrame, query_conv: str, m: int = 12,
                    value_col: str = "turn_count",
                    max_n: int = 8192) -> DataFrame:
    """Cross-series similarity search: for EVERY other series in the
    tier, the single window closest (z-normalized) to ANY window of
    ``query_conv``'s series — "find the moment most like anything in
    this conversation, corpus-wide" (the AB-join of Matrix Profile I,
    reduced to its minimum per series).

    Scale shape: the query series is a bounded driver collect (max_n
    guard — the broadcast-codebook pattern, similarity.py), shipped
    once per executor; the corpus side is ONE shuffle on the series
    key with the O(nq*ny) integer kernel per conv
    (kernel/matrixprofile.py::ab_best_match). Series with no valid
    window pair (zero variance / shorter than m) drop out."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.matrixprofile import ab_best_match

    qrows = (tier.where(F.col("conv_id") == query_conv)
                 .select("window_start", value_col)
                 .orderBy("window_start").collect())
    if len(qrows) > max_n:
        raise ValueError(
            f"ab_join_profile: query series of {len(qrows)} rows "
            f"exceeds max_n={max_n}; downsample first")
    if len(qrows) < m:
        raise ValueError(
            f"ab_join_profile: query series shorter than m={m}")
    qarr = np.array([r[1] for r in qrows], dtype=np.int64)
    spark = tier.sparkSession
    bc = spark.sparkContext.broadcast(qarr)

    def fit(pdf):
        best = ab_best_match(bc.value,
                             pdf[value_col].to_numpy(np.int64), m) \
            if len(pdf) >= m else None
        if best is None:
            return None
        dist, qi, yj = best
        return pd.DataFrame({
            "conv_id": [pdf.iloc[0, 0]], "q_idx": [qi], "c_idx": [yj],
            "window_start": [pdf["window_start"].iloc[yj]], "dist": [dist]})

    return per_conv(tier.where(F.col("conv_id") != query_conv), [value_col],
                    fit, ["conv_id", "q_idx long", "c_idx long",
                          "window_start", "dist double"],
                    max_n=max_n, name="ab_join_profile")


def mp_extrema(profile: DataFrame) -> DataFrame:
    """Per-series motif + discord summary off the long-form profile:
    the window with the SMALLEST nearest-neighbor distance (top motif,
    reported with its partner index) and the LARGEST (top discord).
    Ties resolve to the lowest window index — the min_by/max_by key is
    (mp, -idx) / (mp, idx) — so the reduction is deterministic at any
    parallelism. Series whose profile is entirely NULL drop out. One
    hash aggregation; no extra exchange beyond the groupBy."""
    p = profile.where(F.col("mp").isNotNull())
    lo = F.struct(F.col("mp"), F.col("idx"))
    hi = F.struct(F.col("mp"), (-F.col("idx")).alias("idx"))
    return (p.groupBy("conv_id")
             .agg(F.min_by(F.col("idx"), lo).alias("motif_idx"),
                  F.min_by(F.col("mp_idx"), lo).alias("motif_pair"),
                  F.min("mp").alias("motif_dist"),
                  F.max_by(F.col("idx"), hi).alias("discord_idx"),
                  F.max("mp").alias("discord_dist"),
                  F.count(F.lit(1)).alias("n_windows")))
