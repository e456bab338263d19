"""Time-series toolkit over rollup tiers: gap-fill value policies (LOCF,
linear interpolation), reset-aware counter increase, and time-weighted
averages — the TimescaleDB `locf()/interpolate()/time_weight()` and
PromQL `increase()` surface, re-expressed as Catalyst window/agg plans.

All four are pure JVM window functions — no Python, no extra exchange
beyond the per-conv window shuffle (and consumers downstream of
``gapfill`` reuse that partitioning: same subset rule as sessionize).

Cross-engine float discipline (SURVEY.md §7.5.1): every input is an
exact integer (counts, unix seconds); the single double division in
interpolation / TWA is computed from integer-exact operands through an
identical expression tree in the DuckDB oracle and snapped to the 1e-6
grid on both sides.

yatsm anchor: gap handling in yatsm is implicit (ordinal dates with
missing observations simply absent); an engine serving dashboards needs
explicit fill policies — the gap rows carry ``gap_filled = true`` so
every policy here is a deterministic function of the dense tier.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark.kernel import smooth, vecmath
from yatsm_spark.operators.grid import snap6
from yatsm_spark.operators.series import per_conv


def sum128(terms: dict):
    """Exact order-independent sums of int64 term expressions without
    per-row decimal arithmetic (the repo-wide exact-moment discipline,
    made cheap).

    Each per-row term p (must fit int64 — the callers' existing
    precondition) splits into hi = shiftright(p, 32) (arithmetic shift =
    floor division, ANSI-safe) and lo = p - hi*2^32 in [0, 2^32). Both
    int64 SUMs are overflow-free for any group below 2^31 rows
    (|sum hi| < n*2^31, sum lo < n*2^32 — vs the naive int64 sum that
    wraps once n * |p| reaches 2^63, i.e. ~9.2e6 rows of 1e12-scale
    products), and hi*2^32 + lo reassembles the exact total in
    decimal(38,0) ONCE per group. Bit-identical to a HUGEINT/decimal
    oracle sum; ~3x cheaper than summing decimal-cast operands
    (measured on tx_periodogram: 6.7s -> 2.6s at sf0.1).

    terms: {out_name: int64 Column}. Returns (agg_exprs, rebuild_cols):
    pass *agg_exprs to .agg(...), then *rebuild_cols in a .select(...)
    to materialize each out_name as its exact decimal(38,0) sum.
    """
    d38 = "decimal(38,0)"
    two32 = F.lit(1 << 32)
    aggs, rebuild = [], []
    for name, p in terms.items():
        hi = F.shiftright(p, 32)
        aggs.append(F.sum(hi).alias(f"{name}_hi"))
        aggs.append(F.sum(p - hi * two32).alias(f"{name}_lo"))
        rebuild.append(
            (F.col(f"{name}_hi").cast(d38) * F.lit(4294967296).cast(d38)
             + F.col(f"{name}_lo").cast(d38)).alias(name))
    return aggs, rebuild


def locf(filled: DataFrame, value_cols: list[str]) -> DataFrame:
    """Last-observation-carried-forward over NULL-on-gap measure columns
    of a gap-filled tier. Types are preserved (long stays long — no
    arithmetic happens). Gap-fill spans start at a real slot, so every
    gap row has a predecessor and the result has no remaining nulls.
    """
    w = (Window.partitionBy("conv_id").orderBy("window_start")
               .rowsBetween(Window.unboundedPreceding, 0))
    out = filled
    for c in value_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def interp_linear(filled: DataFrame, value_cols: list[str]) -> DataFrame:
    """Linear interpolation across gap runs: each NULL-on-gap value
    becomes prev + (next - prev) * elapsed-fraction, where prev/next are
    the nearest REAL observations (gap-fill guarantees both exist —
    span endpoints are real slots by construction).

    The columns become double: exact integer-valued on real rows,
    1e-6-snapped interpolations on gap rows. Two window frames
    (preceding / following) over the same partitioning — one shuffle.
    """
    secs = F.unix_timestamp(F.col("window_start"))
    w = Window.partitionBy("conv_id").orderBy("window_start")
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    wn = w.rowsBetween(0, Window.unboundedFollowing)
    out = filled
    for c in value_cols:
        v = F.col(c)
        at = F.when(v.isNotNull(), secs)
        pv = F.last(v, ignorenulls=True).over(wp).cast("double")
        ps = F.last(at, ignorenulls=True).over(wp)
        nv = F.first(v, ignorenulls=True).over(wn).cast("double")
        ns = F.first(at, ignorenulls=True).over(wn)
        frac = (secs - ps).cast("double") / (ns - ps).cast("double")
        interp = snap6(pv + (nv - pv) * frac)
        out = out.withColumn(
            c, F.when(v.isNotNull(), v.cast("double")).otherwise(interp))
    return out


def counter_increase(df: DataFrame, counter_col: str) -> DataFrame:
    """PromQL-style reset-aware per-row increase of a monotonic counter:
    value - prev when the counter advanced, value itself after a reset
    (the counter restarted from 0 and climbed to `value`), 0 on the
    first observation. Pure integer math.
    """
    w = Window.partitionBy("conv_id").orderBy("window_start")
    v = F.col(counter_col)
    prev = F.lag(v).over(w)
    inc = (F.when(prev.isNull(), F.lit(0))
            .when(v >= prev, v - prev)
            .otherwise(v))
    return df.withColumn("increase", inc.cast("long"))


def total_increase(df: DataFrame, counter_col: str) -> DataFrame:
    """(conv_id, total_increase, n_points): the PromQL increase() aggregate
    — sum of reset-aware deltas per series. Integer-exact end to end."""
    return (counter_increase(df, counter_col)
            .groupBy("conv_id")
            .agg(F.sum("increase").alias("total_increase"),
                 F.count(F.lit(1)).alias("n_points")))


def ewma(df: DataFrame, value_col: str, alpha: float = 0.25) -> DataFrame:
    """Exponentially-weighted moving average per series:
    s_0 = x_0, s_i = alpha*x_i + (1-alpha)*s_{i-1} (the adjust=False /
    online-monitoring recurrence). One applyInPandas pass per series.

    Cross-engine bit-exactness without snapping: pick an ``alpha`` whose
    value AND complement are exact binary fractions (0.25/0.75, 0.5/0.5,
    0.125/0.875 ...) — then both engines multiply by identical doubles
    in identical order and the accumulated stream agrees to the last
    bit (the DuckDB oracle replays the recurrence with a recursive CTE).
    The default 0.25 satisfies this; other alphas work but drift by
    ulps between engines and would need grid-snapping. The recurrence is
    kernel/smooth.py::ewma, shared with ``stream_ewma``.
    """
    def fit(pdf):
        pdf["ewma"], _ = smooth.ewma(
            pdf[value_col].to_numpy(dtype=np.float64), alpha)
        return pdf

    return per_conv(df, [value_col], fit,
                    ["conv_id", "window_start", value_col, "ewma double"],
                    name="ewma")


def time_weighted_avg(df: DataFrame, value_col: str) -> DataFrame:
    """(conv_id, twa, span_secs): LOCF-weighted time average over an
    irregular (sparse) tier — each observation holds until the next
    one; the last observation of a series carries no weight (its
    holding interval is unknown), the TimescaleDB ``time_weight
    ('locf')`` convention. Series with a single point yield NULL.

    Numerator/denominator accumulate as decimal(38,0) (exact,
    order-independent — same discipline as the PCA moments); the one
    double division is snapped to the 1e-6 grid.
    """
    w = Window.partitionBy("conv_id").orderBy("window_start")
    secs = F.unix_timestamp(F.col("window_start"))
    dur = (F.lead(secs).over(w) - secs)  # null on the last row
    weighted = (F.col(value_col) * dur).cast("decimal(38,0)")
    return (df.withColumn("_dur", dur)
              .withColumn("_wv", weighted)
              .groupBy("conv_id")
              .agg(snap6(F.sum("_wv").cast("double")
                         / F.sum(F.col("_dur").cast("decimal(38,0)"))
                             .cast("double")).alias("twa"),
                   F.sum("_dur").cast("long").alias("span_secs")))


def rate_per_sec(df: DataFrame, counter_col: str) -> DataFrame:
    """(conv_id, rate, total_increase, span_secs): PromQL ``rate()`` — the
    reset-aware total increase divided by the observed span. Integer
    numerator/denominator; the single division is 1e-6-snapped.
    Single-point series have span 0 and yield NULL rate (PromQL returns
    no sample there). One window shuffle + one agg on the same key —
    the agg reuses the window partitioning (exchange-reuse subset rule).
    """
    secs = F.unix_timestamp(F.col("window_start"))
    inc = counter_increase(df, counter_col)
    return (inc.withColumn("_secs", secs)
               .groupBy("conv_id")
               .agg(F.sum("increase").cast("long").alias("total_increase"),
                    (F.max("_secs") - F.min("_secs")).cast("long")
                        .alias("span_secs"))
               .withColumn(
                   "rate",
                   F.when(F.col("span_secs") > 0,
                          snap6(F.col("total_increase").cast("double")
                                / F.col("span_secs").cast("double"))))
               .select("conv_id", "rate", "total_increase", "span_secs"))


def deriv(df: DataFrame, value_col: str) -> DataFrame:
    """(conv_id, n_points, slope): PromQL ``deriv()`` — the per-series
    least-squares slope of value against time (per second).

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) with x = seconds since
    the series' own first observation (integer shift; slope-invariant —
    and it keeps every moment well inside decimal(38,0)). All five
    moments accumulate as exact decimals (order-independent, so the
    result is bit-identical at any parallelism); numerator and
    denominator are cast to double once and the one division is
    1e-6-snapped with the round-half-up floor formula — the DuckDB
    oracle replays the identical expression tree over HUGEINT moments.
    Constant-time series (den = 0, needs >= 2 distinct timestamps)
    yield NULL.
    """
    # r6 plan: the previous formulation shifted x to seconds-since-first-
    # slot via min() over an unbounded per-series window — a full extra
    # window pass (shuffle + sort) over the tier — and accumulated the five
    # moments as per-row decimal(38,0) sums (BigDecimal per row). Both the
    # numerator n*Sxy - Sx*Sy and denominator n*Sxx - Sx^2 are EXACTLY
    # shift-invariant over the integers (substitute x+c and expand: every c
    # term cancels identically), so any constant shift gives bit-identical
    # num/den — including the per-series first-slot shift the frozen oracle
    # SQL uses. A fixed epoch base (2020-09-13, below) replaces the window
    # outright, and sum128 keeps the moment sums exact at int64 speed.
    # Precondition (documented contract, same class as the rollup sumsq
    # bound): per-row |x*value| < 2^63, i.e. |value| < 9.2e18 /
    # |secs - 1.6e9| — ~1.9e10 for data 15 years from the base; token/count
    # measures sit orders of magnitude below this.
    secs = F.unix_timestamp(F.col("window_start"))
    x = (secs - F.lit(1_600_000_000)).cast("long")
    y = F.col(value_col).cast("long")
    aggs, rebuild = sum128({"_sx": F.col("_x"), "_sy": F.col("_y"),
                            "_sxy": F.col("_x") * F.col("_y"),
                            "_sxx": F.col("_x") * F.col("_x")})
    m = (df.select(F.col("conv_id"), x.alias("_x"), y.alias("_y"))
           .groupBy("conv_id")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"), *aggs)
           .select(F.col("conv_id"), "_n", *rebuild))
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
    return (m.withColumn("_num", num.cast("decimal(38,0)"))
             .withColumn("_den", den.cast("decimal(38,0)"))
             .select(F.col("conv_id"),
                     F.col("_n").cast("long").alias("n_points"),
                     F.when(F.col("_den") > 0,
                            snap6(F.col("_num").cast("double")
                                  / F.col("_den").cast("double")))
                      .alias("slope")))


def pearson_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """(conv_id, n_points, corr): per-series Pearson correlation of two
    integer measure columns, from exact-decimal moments:

        r = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))

    The two variance terms are cast to double and sqrt'd SEPARATELY
    (their decimal product could overflow 38 digits; two IEEE sqrts of
    exact-integer-valued doubles are correctly rounded and identical in
    any engine), then one snapped division. Zero variance on either
    side yields NULL. One shuffle (the groupBy).
    """
    # sum128 moments (r6): per-row products of two integer measures stay
    # far inside int64 (|x*y| < 2^63 — the rollup-moment bound argument),
    # and the hi/lo split sums are exact at any group size — bit-identical
    # to the decimal-operand sums they replace at ~3x less per-row cost.
    xl = F.col(x_col).cast("long")
    yl = F.col(y_col).cast("long")
    aggs, rebuild = sum128({"_sx": F.col("_x"), "_sy": F.col("_y"),
                            "_sxy": F.col("_x") * F.col("_y"),
                            "_sxx": F.col("_x") * F.col("_x"),
                            "_syy": F.col("_y") * F.col("_y")})
    m = (df.select(F.col("conv_id"), xl.alias("_x"), yl.alias("_y"))
           .groupBy("conv_id")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"), *aggs)
           .select(F.col("conv_id"), "_n", *rebuild))
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) \
        .cast("decimal(38,0)")
    vx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")) \
        .cast("decimal(38,0)")
    vy = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")) \
        .cast("decimal(38,0)")
    r = num.cast("double") / (F.sqrt(vx.cast("double"))
                              * F.sqrt(vy.cast("double")))
    return (m.select(F.col("conv_id"),
                     F.col("_n").cast("long").alias("n_points"),
                     F.when((vx > 0) & (vy > 0), snap6(r)).alias("corr")))


def rolling_anomaly(df: DataFrame, value_col: str, k: int = 30,
                    sigma: int = 3, min_n: int = 8) -> DataFrame:
    """Rolling z-test anomaly flags: each point is compared against the
    mean/std of its own k PRECEDING rows (never itself — no
    contamination). Appends:

    - ``is_anomaly`` — (x - mean)^2 > sigma^2 * var, decided ENTIRELY in
      exact integer arithmetic (cross-multiplied form, decimal(38,0)):
          (n*x - S)^2 * (n-1)  >  sigma^2 * n * (n*Q - S^2)
      so the flag carries zero float risk at any engine/parallelism.
      NULL while the window holds fewer than ``min_n`` rows; on a
      zero-variance window any deviation (n*x != S) is anomalous.
    - ``zscore`` — (n*x - S) * sqrt((n-1) / (n * (n*Q - S^2))), the
      identical algebraic form both engines evaluate from exact-integer
      operands (one sqrt, one multiply, 1e-6 snap); NULL on warm-up or
      zero variance.

    One window shuffle; everything else is per-row expression work.
    """
    w = (Window.partitionBy("conv_id").orderBy("window_start")
               .rowsBetween(-k, -1))
    d38 = "decimal(38,0)"
    # r6 shape: the frame aggregates are MATERIALIZED once as columns and
    # the flag/zscore algebra reads those columns — inlining the window
    # sums into every sub-expression made the plan re-evaluate the O(k)
    # sliding aggregation per reference (measured 9.5s -> ~2.5s on the
    # tx_anomaly tier at sf0.1). The count/mean frame sum uses the
    # sum128 hi/lo split (exact for ANY long input, int64-speed); the
    # sum-of-squares stays a decimal-operand sum because x^2 itself can
    # exceed int64 — exactness is unconditional either way.
    xl = F.col(value_col).cast("long")
    xhi = F.shiftright(xl, 32)
    xd = F.col(value_col).cast(d38)
    d = (df.withColumn("_n", F.count(value_col).over(w))
           .withColumn("_shi", F.sum(xhi).over(w))
           .withColumn("_slo", F.sum(xl - xhi * F.lit(1 << 32)).over(w))
           .withColumn("_q", F.sum(xd * xd).over(w).cast(d38)))
    n = F.col("_n").cast(d38)
    s = (F.col("_shi").cast(d38) * F.lit(4294967296).cast(d38)
         + F.col("_slo").cast(d38))
    d = (d.withColumn("_dev", (n * xd - s).cast(d38))
          .withColumn("_varn", (n * F.col("_q") - s * s).cast(d38)))
    dev, var_n = F.col("_dev"), F.col("_varn")
    flag = (F.when(var_n > 0,
                   (dev * dev * (n - 1)).cast(d38)
                   > (F.lit(sigma * sigma) * n * var_n).cast(d38))
             .otherwise(dev != F.lit(0).cast(d38)))
    z = (dev.cast("double")
         * F.sqrt((n - 1).cast("double") / (n * var_n).cast("double")))
    warm = F.col("_n") >= min_n
    return (d.withColumn("is_anomaly", F.when(warm, flag))
             .withColumn("zscore",
                         F.when(warm & (var_n > 0), snap6(z)))
             .drop("_n", "_shi", "_slo", "_q", "_dev", "_varn"))


def topk_slots(tier: DataFrame, value_col: str = "turn_count",
               k: int = 5) -> DataFrame:
    """Each series' k busiest slots, ranked: rank 1 = largest value,
    ties broken by the EARLIER slot (the unique slot makes the rank
    total). Because the row_number filter matches the window's own
    ordering, Spark plans a PARTIAL WindowGroupLimit below the exchange
    (the sample_stratified trick): each map task ships at most k rows
    per series it has seen — a hot conv costs k x maps rows in the
    shuffle, not its full series. Audited in BENCH/PLANS.md."""
    w = Window.partitionBy("conv_id").orderBy(F.col(value_col).desc(),
                                              F.col("window_start").asc())
    return (tier.select("conv_id", "window_start", value_col)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))


def alert_episodes(flags: DataFrame, value_col: str = "turn_count") -> DataFrame:
    """Collapse per-slot anomaly flags (``is_anomaly``, ``zscore``, as
    ``rolling_anomaly`` emits them) into ALERT EPISODES — maximal
    runs of consecutive flagged rows (the Prometheus `ALERTS` /
    "pending for N" shape, applied after the fact): per episode the
    first/last slot, its length, the peak deviation and the value at
    the peak.

    Islands by the classic row_number difference: within a series
    ordered by slot, ``rn_all - rn_flagged`` is constant across a run
    of flagged rows and strictly separates runs (NULL and false flags
    both break a run). Works on sparse or dense tiers — "consecutive"
    means adjacent surviving ROWS in slot order, which on the dense
    tier is adjacent slots.

    Float discipline: zscore is already 1e-6-snapped by
    ``rolling_anomaly``; max/arg-max over snapped values is exact, so
    no new float risk is introduced. peak_value is picked by max_by on
    (zscore, slot) with the slot as a unique tie-break.

    Plan: one window shuffle on the series key (two row_numbers share
    the frame), then a groupBy whose keys are a superset of the window
    partitioning — with
    ``spark.sql.requireAllClusterKeysForDistribution=false`` (default)
    the agg reuses the window's exchange, so the operator costs ONE
    shuffle total."""
    w = Window.partitionBy("conv_id").orderBy("window_start")
    flagged = F.col("is_anomaly") == True  # noqa: E712 — NULL-safe on purpose
    base = (flags
            .withColumn("_rn", F.row_number().over(w))
            .where(flagged)
            .withColumn("_isl", F.col("_rn")
                        - F.row_number().over(w)))
    # zscore can be NULL inside an episode (zero-variance window flagged
    # by dev != 0): order those FIRST so max_by picks a real peak when
    # one exists, deterministically via the unique slot tie-break.
    zkey = F.struct(F.coalesce(F.col("zscore"), F.lit(float("-inf"))).alias("z"),
                    F.col("window_start").alias("t"))
    return (base.groupBy("conv_id", "_isl")
                .agg(F.min("window_start").alias("episode_start"),
                     F.max("window_start").alias("episode_end"),
                     F.count(F.lit(1)).alias("n_slots"),
                     F.max("zscore").alias("peak_zscore"),
                     F.max_by(F.col(value_col), zkey).alias("peak_value"))
                .drop("_isl"))


def holt_winters_backtest(df: DataFrame, value_col: str,
                          alpha: float = 0.5, beta: float = 0.25,
                          gamma: float = 0.25, period: int = 24,
                          max_n: int = 4096) -> DataFrame:
    """One-step-ahead forecast backtest of ``holt_winters``: run the
    same kernel (kernel/smooth.py), forecast each slot i >= 1 as
    f_i = (l_{i-1} + b_{i-1}) + s_prev(i) BEFORE observing x_i, and
    report per-series accuracy:

    - mae, rmse — mean absolute / root-mean-square one-step error
    - smape — mean of 2|e|/(|x|+|f|) (term 0 when both are 0)
    - mase — mae / seasonal-naive MAE (|x_i - x_{i-p}| over i >= p);
      NULL when the series is too short or the naive error is 0

    Cross-engine float discipline: the recurrence's doubles are
    bit-identical in both engines (the tx_holtwinters guarantee), so
    each PER-ROW error term is an identical double; every term is then
    snapped to an INTEGER on the 1e-6 grid and the per-series sums run
    in exact integer arithmetic (Python ints here, HUGEINT in the
    oracle) — the one float reduction a naive implementation would do
    (summing raw doubles, order-dependent) never happens. Each metric
    is ONE final snapped division of exact integers. ``max_n`` (4096)
    also keeps n*1e12 inside double's exact-integer range for the rmse
    denominator."""
    p = int(period)
    if p < 1:
        raise ValueError("period must be >= 1")

    def fit(pdf):
        n = len(pdf)
        key = pdf.iloc[0, 0]
        xi = pdf[value_col].to_numpy(dtype=np.int64)
        x = xi.astype(np.float64)
        (lv, tr, se), _ = smooth.holt_winters(x, alpha, beta, gamma, p)
        sum_ae6 = sum_sq = sum_t6 = 0
        sum_naive = n_naive = 0
        for i in range(1, n):
            f = (lv[i - 1] + tr[i - 1]) + (se[i - p] if i >= p else 0.0)
            e = x[i] - f
            e6 = int(vecmath.micro6(e))
            sum_ae6 += abs(e6)
            sum_sq += e6 * e6
            den = abs(x[i]) + abs(f)
            t = 0.0 if den == 0.0 else 2.0 * abs(e) / den
            sum_t6 += int(vecmath.micro6(t))
            if i >= p:
                sum_naive += int(abs(xi[i] - xi[i - p]))
                n_naive += 1
        ne = max(n - 1, 0)
        mae = rmse = smape = mase = None
        if ne > 0:
            # numerator and denominator each converted int -> double
            # ONCE, then one division — the exact op sequence the
            # oracle's ::double casts perform
            mae = vecmath.snap6(float(sum_ae6) / float(ne * 10 ** 6))
            rmse = vecmath.snap6(math.sqrt(float(sum_sq) / float(ne * 10 ** 12)))
            smape = vecmath.snap6(float(sum_t6) / float(ne * 10 ** 6))
            if sum_naive > 0:
                mase = vecmath.snap6(float(sum_ae6 * n_naive)
                                     / float(ne * sum_naive * 10 ** 6))
        return pd.DataFrame(
            {"conv_id": [key], "n_eval": [ne],
             "mae": pd.array([mae], dtype="Float64"),
             "rmse": pd.array([rmse], dtype="Float64"),
             "smape": pd.array([smape], dtype="Float64"),
             "mase": pd.array([mase], dtype="Float64")})

    return per_conv(df, [value_col], fit,
                    ["conv_id", "n_eval long", "mae double", "rmse double",
                     "smape double", "mase double"],
                    max_n=max_n, name="holt_winters_backtest")


def theil_sen(tier: DataFrame, value_col: str = "turn_count",
              max_n: int = 4096) -> DataFrame:
    """Theil–Sen robust trend per series: slope = median of all
    pairwise slopes (x_j - x_i) / (t_j - t_i), i < j; intercept =
    median of (x_i - slope * t_i) with t in SECONDS SINCE THE SERIES'
    FIRST SLOT (the deriv() convention — slope-invariant, keeps
    operands small and the intercept meaningful as the level at the
    series start). The robust companion to ``deriv()``'s least-squares
    slope — up to ~29% outlier contamination cannot move it (same
    motivation as the reference's RLM screening, yatsm
    robust estimators).

    Determinism/exactness: each pairwise slope is ONE correctly-rounded
    double division of exact integers, identical in both engines; the
    median is the LOWER median — pure selection (sorted[(m-1)//2]),
    never the interpolated average of two middles, which engines spell
    with different float expressions ((a+b)/2 vs a+(b-a)*0.5). Emitted
    slope/intercept are 1e-6-snapped; the intercept residuals are
    computed from the SNAPPED slope so both engines subtract the same
    double.

    Scale shape: O(n^2) pairs per series, vectorized in one numpy
    outer-difference per conv (applyInPandas, one shuffle on the series
    key). Series longer than ``max_n`` raise — downsample first (lttb /
    m4 / cascade to a coarser tier); a silent cap would change the
    estimator."""
    def fit(pdf):
        n = len(pdf)
        key = pdf.iloc[0, 0]
        if n < 2:
            # nullable Float64 -> Arrow null (a bare np.nan would emit
            # NaN, which Spark treats as a VALUE distinct from NULL)
            return pd.DataFrame(
                {"conv_id": [key], "n_points": [n],
                 "slope": pd.array([None], dtype="Float64"),
                 "intercept": pd.array([None], dtype="Float64")})
        t_us = pdf["window_start"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        t = (t_us - t_us[0]) // 1_000_000          # exact int seconds
        x = pdf[value_col].to_numpy(dtype=np.int64)
        iu = np.triu_indices(n, k=1)
        dx = (x[iu[1]] - x[iu[0]]).astype(np.float64)
        dt = (t[iu[1]] - t[iu[0]]).astype(np.float64)
        slopes = np.sort(dx / dt)
        sl = float(slopes[(len(slopes) - 1) // 2])
        sl = vecmath.snap6(sl)
        resid = np.sort(x.astype(np.float64) - sl * t.astype(np.float64))
        ic = float(resid[(len(resid) - 1) // 2])
        ic = vecmath.snap6(ic)
        return pd.DataFrame({"conv_id": [key], "n_points": [n],
                             "slope": [sl], "intercept": [ic]})

    return per_conv(tier, [value_col], fit,
                    ["conv_id", "n_points long", "slope double",
                     "intercept double"],
                    max_n=max_n, name="theil_sen")


def holt(df: DataFrame, value_col: str, alpha: float = 0.5,
         beta: float = 0.25) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per series:

        s_0 = x_0, b_0 = 0
        s_i = alpha*x_i + (1-alpha)*(s_{i-1} + b_{i-1})
        b_i = beta*(s_i - s_{i-1}) + (1-beta)*b_{i-1}

    (zero initial trend — total for length-1 series; documented
    deviation from the classic b_0 = x_1 - x_0 textbook init). Same
    bit-exactness discipline as ``ewma``: the defaults 0.5/0.25 make
    alpha, 1-alpha, beta AND 1-beta exact binary fractions, so a DuckDB
    recursive-CTE replay of the identical recurrence matches the raw
    double streams to the last bit — no snapping. One applyInPandas
    pass per series (the recurrence is inherently sequential).
    """
    a, b1 = alpha, 1.0 - alpha
    b, b2 = beta, 1.0 - beta

    def fit(pdf):
        x = pdf[value_col].to_numpy(dtype=np.float64)
        lv = np.empty(len(x), dtype=np.float64)
        tr = np.empty(len(x), dtype=np.float64)
        if len(x):
            lv[0] = x[0]
            tr[0] = 0.0
            for i in range(1, len(x)):
                lv[i] = a * x[i] + b1 * (lv[i - 1] + tr[i - 1])
                tr[i] = b * (lv[i] - lv[i - 1]) + b2 * tr[i - 1]
        pdf["level"] = lv
        pdf["trend"] = tr
        return pdf

    return per_conv(df, [value_col], fit,
                    ["conv_id", "window_start", value_col, "level double",
                     "trend double"], name="holt")


def holt_winters(df: DataFrame, value_col: str, alpha: float = 0.5,
                 beta: float = 0.25, gamma: float = 0.25,
                 period: int = 24) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing per series:

        l_0 = x_0, b_0 = 0, s_0 = 0
        s_prev(i) = s_{i-period}  (0.0 while i < period)
        l_i = alpha*(x_i - s_prev) + (1-alpha)*(l_{i-1} + b_{i-1})
        b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}
        s_i = gamma*(x_i - l_i) + (1-gamma)*s_prev

    (zero-initialized seasonals — the first period behaves like plain
    Holt and the seasonal profile is learned online; deterministic and
    total for any series length, unlike textbook inits that need a full
    first cycle). The defaults 0.5/0.25/0.25 make all six multipliers
    exact binary fractions, so a DuckDB recursive-CTE replay of the
    identical recurrence (seasonal state carried as a p-slot ring list)
    matches the raw double streams to the LAST BIT — no snapping (the
    ewma/holt discipline, extended to a third accumulator). One
    applyInPandas pass per series; O(period) state. The recurrence is
    kernel/smooth.py::holt_winters, shared with ``stream_holtwinters``
    and ``holt_winters_backtest``."""
    p = int(period)
    if p < 1:
        raise ValueError("period must be >= 1")

    def fit(pdf):
        (pdf["level"], pdf["trend"], pdf["seasonal"]), _ = smooth.holt_winters(
            pdf[value_col].to_numpy(dtype=np.float64), alpha, beta, gamma, p)
        return pdf

    return per_conv(df, [value_col], fit,
                    ["conv_id", "window_start", value_col, "level double",
                     "trend double", "seasonal double"],
                    name="holt_winters")
