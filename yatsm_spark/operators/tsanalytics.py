"""Series-shape analytics over rollup tiers and raw transcripts:
candlestick (OHLC) reduction, state-duration accounting, heartbeat
uptime intervals, autocorrelation, and classical seasonal decomposition.

These are the TimescaleDB-toolkit-style aggregates (candlestick_agg,
state_agg, heartbeat_agg) plus the two series diagnostics every
monitoring stack grows (ACF, trend/seasonal/residual split), recast as
pure Catalyst plans over the engine's tiers.

Scale shape: every operator here is ONE hash-partition by the series
key (plus, for the seasonal split, one further window keyed by
(series, phase)). No UDFs, no collect, no joins against unbounded
sides; inputs are tiers (already aggregated) or raw turns pruned to
the 2-4 columns each operator reads. All emitted numerics are either
exact integers or single snapped divisions of exact decimal moments,
so the DuckDB oracles agree bit-for-bit (SURVEY.md §7.5.1 float
policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from yatsm_spark.kernel import vecmath
from yatsm_spark.operators.grid import micro6, snap6
from yatsm_spark.operators.rollup import TIERS


def ohlc(tier: DataFrame, value_col: str = "turn_count",
         bucket_secs: int = 3600) -> DataFrame:
    """Candlestick reduction (TimescaleDB candlestick_agg): per
    (series, bucket) the open/high/low/close of ``value_col`` plus the
    slot count. Open/close are picked by min_by/max_by on the slot
    timestamp — unique within a series, so no tie policy is needed.
    Exact integer relation; one groupBy shuffle with map-side partial
    aggregation."""
    b = F.to_timestamp(
        F.floor(F.unix_timestamp(F.col("_t")) / bucket_secs)
        .cast("bigint") * bucket_secs)
    v = F.col(value_col)
    return (tier.select("conv_id", F.col("window_start").alias("_t"),
                        v.alias("_v"))
                .groupBy(F.col("conv_id"), b.alias("bucket_start"))
                .agg(F.min_by("_v", "_t").alias("open"),
                     F.max("_v").alias("high"),
                     F.min("_v").alias("low"),
                     F.max_by("_v", "_t").alias("close"),
                     F.count(F.lit(1)).alias("n_slots")))


def state_durations(tx: DataFrame) -> DataFrame:
    """State accounting (TimescaleDB state_agg) over the transcripts: total
    wall seconds a conversation spent in each ``role``, where each turn
    holds its state until the next turn (the last turn holds for 0s —
    the series has no knowledge past its final timestamp). Also counts
    events and runs (maximal same-state stretches).

    Pure window + groupBy: LEAD(ts) and LAG(state) over the series
    order, then one hash aggregation on (series, state). Durations are
    exact integer MICROSECONDS (unix_micros diffs — second-granularity
    epochs would force a truncate-vs-round choice that differs between
    engines)."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    e = F.unix_micros(F.col("ts"))
    stepped = tx.select(
        "conv_id", F.col("role").alias("state"),
        (F.coalesce(F.lead(e).over(w), e) - e).alias("_dur"),
        F.when(F.lag("role").over(w).isNull()
               | (F.lag("role").over(w) != F.col("role")), 1)
         .otherwise(0).alias("_run_start"))
    return (stepped.groupBy("conv_id", "state")
                   .agg(F.sum("_dur").cast("long").alias("total_us"),
                        F.count(F.lit(1)).alias("n_events"),
                        F.sum("_run_start").cast("long").alias("n_runs")))


def uptime_intervals(tx: DataFrame, tolerance_secs: int = 300) -> DataFrame:
    """Heartbeat/uptime accounting (TimescaleDB heartbeat_agg): treat
    each event timestamp as a liveness beat; merge beats closer than
    ``tolerance_secs`` into live intervals (gaps-and-islands), then
    report per series the interval count, total live seconds (sum of
    interval extents), and the covered span.

    A new island starts where ts - prev_ts > tolerance (strict — a gap
    of exactly the tolerance still counts as live). island id = running
    count of starts over a RANGE frame — tied beats (two events at the
    same microsecond) all see the same running sum, so the island
    assignment is deterministic no matter how a sort breaks the tie
    (a ROWS frame here would be order-ambiguous). All times are exact
    integer MICROSECONDS (unix_micros); one partition-by-series window
    pass plus one groupBy."""
    w = Window.partitionBy("conv_id").orderBy("_e")
    beats = tx.select("conv_id", F.unix_micros(F.col("ts")).alias("_e"))
    gap = F.col("_e") - F.lag("_e").over(w)
    tol_us = int(tolerance_secs) * 1_000_000
    beats = beats.withColumn(
        "_start", F.when(gap.isNull() | (gap > tol_us), 1)
                   .otherwise(0))
    isl = beats.withColumn(
        "_isl", F.sum("_start").over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
    per_isl = (isl.groupBy("conv_id", "_isl")
                  .agg(F.min("_e").alias("_i0"), F.max("_e").alias("_i1")))
    return (per_isl.groupBy("conv_id")
                   .agg(F.count(F.lit(1)).alias("n_intervals"),
                        F.sum(F.col("_i1") - F.col("_i0")).cast("long")
                         .alias("uptime_us"),
                        (F.max("_i1") - F.min("_i0")).cast("long")
                         .alias("span_us")))


def acf(tier: DataFrame, value_col: str = "turn_count",
        max_lag: int = 5) -> DataFrame:
    """Autocorrelation function at lags 1..max_lag per series, the
    standard biased estimator with the FULL-series mean:

        r_l = sum_{t>l} (x_t - m)(x_{t-l} - m) / sum_t (x_t - m)^2

    computed entirely from exact integer moments. Expanding with
    m = Sx/n and clearing denominators by n^2:

        A_l = n^2 * P_l - n * Sx * (H_l + T_l) + m_l * Sx^2
        A_0 = n^2 * Sxx - n * Sx^2
        r_l = A_l / A_0

    where P_l = sum x_t*x_{t-l}, H_l/T_l = the tail/head partial sums
    over pairs, m_l = pair count. Every A is a decimal(38,0) integer
    (order-independent, bit-identical at any parallelism); the single
    division is snapped. Meaningful on the DENSE (gap-filled) tier —
    on a sparse tier the lag is "slots back", not wall time.

    Plan: one window pass materializing max_lag LAG columns, one
    groupBy(series) computing 2 + 4*max_lag moments, then a stack to
    long form — one shuffle total."""
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    # sum128 moments (r6): per-row terms (x, x^2, x*lag) are int64 for any
    # |x| < ~3e9 (counts/token sums sit orders of magnitude below), and
    # the hi/lo split sums are exact at any group size — bit-identical to
    # the decimal-operand sums they replace at ~3x less per-row cost. NULL
    # lag terms skip both hi and lo sums together (same rows), so the
    # NULL/coalesce semantics below are unchanged.
    from yatsm_spark.operators.tsfuncs import sum128

    x = F.col(value_col).cast("long")
    src = tier.select("conv_id", F.col("window_start").alias("_t"),
                      x.alias("_x"))
    w = Window.partitionBy("conv_id").orderBy("_t")
    for lag in range(1, max_lag + 1):
        src = src.withColumn(f"_g{lag}", F.lag("_x", lag).over(w))
    terms = {"_sx": F.col("_x"), "_sxx": F.col("_x") * F.col("_x")}
    extra = []
    for lag in range(1, max_lag + 1):
        g = F.col(f"_g{lag}")
        has = g.isNotNull()
        terms[f"_p{lag}"] = F.col("_x") * g
        terms[f"_h{lag}"] = F.when(has, F.col("_x"))
        terms[f"_t{lag}"] = g
        extra.append(F.count(g).cast("decimal(38,0)").alias(f"_m{lag}"))
    s_aggs, rebuild = sum128(terms)
    m = (src.groupBy("conv_id")
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
                 *s_aggs, *extra)
            .select(F.col("conv_id"), "_n", *rebuild,
                    *[f"_m{lag}" for lag in range(1, max_lag + 1)]))
    n, sx, sxx = F.col("_n"), F.col("_sx"), F.col("_sxx")
    a0 = (n * n * sxx - n * sx * sx).cast("decimal(38,0)")
    rows = []
    for lag in range(1, max_lag + 1):
        al = (n * n * F.coalesce(F.col(f"_p{lag}"), F.lit(0))
              - n * sx * (F.coalesce(F.col(f"_h{lag}"), F.lit(0))
                          + F.coalesce(F.col(f"_t{lag}"), F.lit(0)))
              + F.col(f"_m{lag}") * sx * sx).cast("decimal(38,0)")
        rows.append(F.struct(
            F.lit(lag).alias("lag"),
            F.when((a0 > 0) & (F.col(f"_m{lag}") > 0),
                   snap6(al.cast("double") / a0.cast("double")))
             .alias("acf")))
    return (m.select(F.col("conv_id"), n.cast("long").alias("n_points"),
                     F.explode(F.array(*rows)).alias("_r"))
             .select("conv_id", "n_points", F.col("_r.lag").alias("lag"),
                     F.col("_r.acf").alias("acf")))


def seasonal_decompose(tier: DataFrame, value_col: str = "turn_count",
                       period: int = 24,
                       slot_secs: int = 3600) -> DataFrame:
    """Classical additive decomposition x = trend + seasonal + resid
    over a DENSE (gap-filled) tier with an EVEN period:

    - trend: the 2xMA centered moving average
      (0.5*x_{t-p/2} + x_{t-p/2+1..t+p/2-1} + 0.5*x_{t+p/2}) / p,
      NULL at the series edges (window incomplete);
    - seasonal: per (series, phase) mean of the detrended values,
      phase = (epoch/slot_secs) mod period (uncentered variant — no
      cross-phase re-centering, which keeps every emitted number ONE
      snapped division of exact integers);
    - resid = x - trend - seasonal, with the shared denominator
      (2p * C_p) cleared so the numerator is one exact integer.

    The density requirement is what makes ROW offsets equal TIME
    offsets — run it on ``rollup_gapfilled`` output only.

    Exactness: trend*2p = two complete row-window integer sums
    (decimal); detr2p = 2p*x - trend2p; S_p = sum of detr2p per phase
    (decimal); then trend = snap6(trend2p/2p), seasonal =
    snap6(S_p/(2p*C_p)), resid = snap6((detr2p*C_p - S_p)/(2p*C_p)).
    Plan: two row windows on the series partition + one window on
    (series, phase) — two shuffles, no joins, no UDFs."""
    if period % 2 != 0:
        raise ValueError("period must be even (2xMA centered trend)")
    half = period // 2
    two_p = 2 * period
    wk = Window.partitionBy("conv_id").orderBy("window_start")
    x = F.col(value_col).cast("decimal(38,0)")
    s1w = wk.rowsBetween(-half, half - 1)
    s2w = wk.rowsBetween(-half + 1, half)
    src = tier.select(
        "conv_id", "window_start", F.col(value_col),
        x.alias("_x"),
        (F.floor(F.unix_timestamp(F.col("window_start")) / slot_secs)
         % period).cast("int").alias("phase"))
    t = (src.withColumn("_s1", F.sum("_x").over(s1w))
            .withColumn("_c1", F.count("_x").over(s1w))
            .withColumn("_s2", F.sum("_x").over(s2w))
            .withColumn("_c2", F.count("_x").over(s2w)))
    full = (F.col("_c1") == period) & (F.col("_c2") == period)
    t = t.withColumn(
        "_tr2p", F.when(full, (F.col("_s1") + F.col("_s2"))
                        .cast("decimal(38,0)")))
    t = t.withColumn("_d2p",
                     (F.lit(two_p) * F.col("_x") - F.col("_tr2p"))
                     .cast("decimal(38,0)"))
    pw = Window.partitionBy("conv_id", "phase")
    t = (t.withColumn("_sp", F.sum("_d2p").over(pw))
          .withColumn("_cp", F.count("_d2p").over(pw)
                             .cast("decimal(38,0)")))
    den_t = F.lit(float(two_p))
    den_s = (F.lit(two_p) * F.col("_cp")).cast("double")
    return t.select(
        "conv_id", "window_start", value_col, "phase",
        snap6(F.col("_tr2p").cast("double") / den_t).alias("trend"),
        F.when(F.col("_cp") > 0,
               snap6(F.col("_sp").cast("double") / den_s))
         .alias("seasonal"),
        F.when(F.col("_d2p").isNotNull() & (F.col("_cp") > 0),
               snap6((F.col("_d2p") * F.col("_cp") - F.col("_sp"))
                     .cast("decimal(38,0)").cast("double") / den_s))
         .alias("resid"))


def ccf(tier: DataFrame, x_col: str, y_col: str,
        max_lag: int = 3) -> DataFrame:
    """Cross-correlation function between two measures at lags
    -max_lag..+max_lag per series (positive lag = x correlates with y
    ``lag`` slots EARLIER; negative = x leads y). Same exact-moment
    discipline as ``acf``, with the Pearson-style denominator: the two
    full-series variance terms are sqrt'd separately in double (their
    decimal product could overflow 38 digits), then one snapped
    division per lag:

        num_l * n^2 = n^2*P_l - n*Sx*Ty_l - n*Sy*Hx_l + m_l*Sx*Sy
        r_l = num_l / (sqrt(n^2*Sxx - n*Sx^2) * sqrt(n^2*Syy - n*Sy^2))

    where for l >= 0 the pairs are (x_t, y_{t-l}) and for l < 0 they
    are (x_{t-|l|}, y_t); P/Hx/Ty/m are the pair product-sum, x-side
    sum, y-side sum, and pair count. Meaningful on the DENSE tier.
    One window pass + one groupBy — one shuffle total."""
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    w = Window.partitionBy("conv_id").orderBy("_t")
    src = tier.select("conv_id", F.col("window_start").alias("_t"),
                      F.col(x_col).cast("decimal(38,0)").alias("_x"),
                      F.col(y_col).cast("decimal(38,0)").alias("_y"))
    for k in range(1, max_lag + 1):
        src = (src.withColumn(f"_gx{k}", F.lag("_x", k).over(w))
                  .withColumn(f"_gy{k}", F.lag("_y", k).over(w)))
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
            F.sum(F.col("_x") * F.col("_y")).alias("_p0")]
    for k in range(1, max_lag + 1):
        gx, gy = F.col(f"_gx{k}"), F.col(f"_gy{k}")
        aggs += [
            # +k: pairs (x_t, y_{t-k})
            F.sum(F.col("_x") * gy).alias(f"_pp{k}"),
            F.sum(F.when(gy.isNotNull(), F.col("_x"))).alias(f"_hp{k}"),
            F.sum(gy).alias(f"_tp{k}"),
            F.count(gy).cast("decimal(38,0)").alias(f"_mp{k}"),
            # -k: pairs (x_{t-k}, y_t)
            F.sum(gx * F.col("_y")).alias(f"_pn{k}"),
            F.sum(gx).alias(f"_hn{k}"),
            F.sum(F.when(gx.isNotNull(), F.col("_y"))).alias(f"_tn{k}"),
            F.count(gx).cast("decimal(38,0)").alias(f"_mn{k}"),
        ]
    m = src.groupBy("conv_id").agg(*aggs)
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    vx = (n * n * F.col("_sxx") - n * sx * sx).cast("decimal(38,0)")
    vy = (n * n * F.col("_syy") - n * sy * sy).cast("decimal(38,0)")
    den = F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))

    def _num(p, hx, ty, mm):
        return (n * n * F.coalesce(p, F.lit(0))
                - n * sx * F.coalesce(ty, F.lit(0))
                - n * sy * F.coalesce(hx, F.lit(0))
                + mm * sx * sy).cast("decimal(38,0)")

    rows = []
    for k in range(max_lag, 0, -1):
        rows.append(F.struct(
            F.lit(-k).alias("lag"),
            _num(F.col(f"_pn{k}"), F.col(f"_hn{k}"), F.col(f"_tn{k}"),
                 F.col(f"_mn{k}")).alias("_num")))
    rows.append(F.struct(F.lit(0).alias("lag"),
                         _num(F.col("_p0"), sx, sy, n).alias("_num")))
    for k in range(1, max_lag + 1):
        rows.append(F.struct(
            F.lit(k).alias("lag"),
            _num(F.col(f"_pp{k}"), F.col(f"_hp{k}"), F.col(f"_tp{k}"),
                 F.col(f"_mp{k}")).alias("_num")))
    return (m.select(F.col("conv_id"), n.cast("long").alias("n_points"),
                     (vx > 0).alias("_okx"), (vy > 0).alias("_oky"),
                     den.alias("_den"),
                     F.explode(F.array(*rows)).alias("_r"))
             .select("conv_id", "n_points", F.col("_r.lag").alias("lag"),
                     F.when(F.col("_okx") & F.col("_oky"),
                            snap6(F.col("_r._num").cast("double")
                                  / F.col("_den"))).alias("ccf")))


#: Gaussian breakpoints for the SAX alphabets we support. Literal
#: doubles — both engines parse the same decimal string, so the binning
#: comparisons see identical values.
SAX_BREAKPOINTS = {
    3: (-0.4307, 0.4307),
    4: (-0.6745, 0.0, 0.6745),
    5: (-0.8416, -0.2533, 0.2533, 0.8416),
}
SAX_LETTERS = "abcde"


def sax_paa(tier: DataFrame, value_col: str = "turn_count", w: int = 16,
            alphabet: int = 4) -> DataFrame:
    """SAX (Lin et al. 2003): Piecewise Aggregate Approximation of each
    series into ``w`` segments, z-normalized per series, binned to
    letters at the Gaussian breakpoints. Long form: one row per
    (series, segment) with the segment size, snapped PAA mean, and
    letter.

    Float discipline: paa = snap6(segment decimal sum / count), mean =
    snap6(Sx/n), var = snap6 of one exact-integer division, std =
    sqrt(var) (correctly rounded from an identical double), z =
    (paa - mean)/std — a short identical expression tree over exact
    snapped inputs in both engines, so the letter comparisons are
    deterministic. Zero-variance series emit NULL letters. Plan:
    row_number window + groupBy(series, seg) + series-moment window —
    everything hash-partitions on the series key."""
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {set(SAX_BREAKPOINTS)}")
    wk = Window.partitionBy("conv_id").orderBy("window_start")
    x = F.col(value_col).cast("decimal(38,0)")
    src = tier.select("conv_id", "window_start", x.alias("_x")).withColumn(
        "_i", F.row_number().over(wk) - 1)
    mw = Window.partitionBy("conv_id")
    src = (src.withColumn("_n", F.count(F.lit(1)).over(mw)
                                  .cast("decimal(38,0)"))
              .withColumn("_sx", F.sum("_x").over(mw))
              .withColumn("_sxx", F.sum(F.col("_x") * F.col("_x"))
                                   .over(mw))
              .withColumn("seg", F.floor(F.col("_i") * w
                                         / F.col("_n").cast("long"))
                                  .cast("int")))
    g = (src.groupBy("conv_id", "seg")
            .agg(F.count(F.lit(1)).alias("n_in_seg"),
                 F.sum("_x").alias("_sp"),
                 F.first("_n").alias("_n"), F.first("_sx").alias("_sx"),
                 F.first("_sxx").alias("_sxx")))
    n, sx, sxx = F.col("_n"), F.col("_sx"), F.col("_sxx")
    paa = snap6(F.col("_sp").cast("double")
                / F.col("n_in_seg").cast("double"))
    mean = snap6(sx.cast("double") / n.cast("double"))
    varn = (n * sxx - sx * sx).cast("decimal(38,0)")
    var = snap6(varn.cast("double") / (n * n).cast("double"))
    z = (F.col("paa") - F.col("_mean")) / F.sqrt(F.col("_var"))
    bps = SAX_BREAKPOINTS[alphabet]
    idx = sum((F.when(F.col("_z") >= F.lit(b), 1).otherwise(0)
               for b in bps), F.lit(0))
    return (g.withColumn("paa", paa)
             .withColumn("_mean", mean).withColumn("_var", var)
             .withColumn("_z", F.when(F.col("_var") > 0, z))
             .withColumn("letter",
                         F.when(F.col("_z").isNotNull(),
                                F.substring(F.lit(SAX_LETTERS[:alphabet]),
                                            1, alphabet)
                                 .substr(idx + 1, F.lit(1))))
             .select("conv_id", "seg", "n_in_seg", "paa", "letter"))


def sax_words(tier: DataFrame, value_col: str = "turn_count", w: int = 16,
              alphabet: int = 4) -> DataFrame:
    """The SAX word per series: letters of ``sax_paa`` concatenated in
    segment order (struct-sort — no order-sensitive collect). NULL when
    the series has zero variance."""
    p = sax_paa(tier, value_col, w, alphabet)
    word = F.concat_ws("", F.transform(
        F.array_sort(F.collect_list(F.struct("seg", "letter"))),
        lambda s: s["letter"]))
    return (p.groupBy("conv_id")
             .agg(F.count(F.lit(1)).alias("n_segments"),
                  F.min(F.col("letter").isNotNull()).alias("_has"),
                  word.alias("_w"))
             .select("conv_id", "n_segments",
                     F.when(F.col("_has"), F.col("_w")).alias("sax_word")))


def sax_candidate_pairs(words: DataFrame, max_bucket: int = 64) -> DataFrame:
    """Series near-dup candidate pairs from SAX words (a < b), with the
    dedup family's hot-bucket discipline: a word shared by m series
    emits m(m-1)/2 pairs, so one degenerate shape (e.g. the word every
    near-idle conv collapses to) would go quadratic at corpus scale.
    Words over ``max_bucket`` are removed BEFORE the self-join by a
    broadcast anti-join of the (tiny by construction) hot-word set —
    never by broadcasting the corpus-sized keep set."""
    w = words.where(F.col("sax_word").isNotNull()).select("conv_id", "sax_word")
    hot = (w.groupBy("sax_word").agg(F.count(F.lit(1)).alias("_sz"))
             .filter(F.col("_sz") > max_bucket))
    w = w.join(F.broadcast(hot.select("sax_word")), "sax_word", "left_anti")
    a, b = w.alias("a"), w.alias("b")
    return (a.join(b, (F.col("a.sax_word") == F.col("b.sax_word"))
                   & (F.col("a.conv_id") < F.col("b.conv_id")))
             .select(F.col("a.conv_id").alias("conv_a"),
                     F.col("b.conv_id").alias("conv_b"),
                     F.col("a.sax_word").alias("sax_word")))


def distribution_shift(tier: DataFrame, value_col: str = "turn_count",
                       cap: int = 64) -> DataFrame:
    """Two-sample chi-square homogeneity test between the FIRST and
    SECOND half of each series' value distribution — the batch
    regime-shift detector complementing the online monitor
    (streaming/stream_rollup.py::online_monitor): a large chi2 says the
    value histogram changed between the halves.

    Buckets are ``least(value, cap)`` (counts are small integers; the
    cap bounds bucket cardinality like the HDR sketch's octaves bound
    theirs). With half sizes N1 = n//2, N2 = n - N1 and per-bucket
    counts o1, o2, the statistic in cleared-denominator form is

        chi2 = sum_b (o1*N2 - o2*N1)^2 / (N1*N2*(o1+o2))

    — each term one division of exact decimal integers, deliberately
    chosen over PSI/KL because it needs NO transcendentals (ln is not
    correctly-rounded across engines). Terms are snapped to 1e-6-grid
    INTEGERS and summed exactly (decimal), so the reduction is
    order-independent — bit-identical at any parallelism; the final
    chi2 is one division of that exact sum by 1e6. dof = live buckets
    minus 1. NULL for series shorter than 2 rows.

    Plan: one window pass (row index + series length share the frame),
    then two hash aggs that both cluster on the series key — the
    (conv, bucket) agg and the final conv agg reuse the window's
    exchange (subset rule); one shuffle total."""
    cw = Window.partitionBy("conv_id")
    w = cw.orderBy("window_start")
    src = (tier.select("conv_id", "window_start", F.col(value_col).alias("_v"))
               .withColumn("_i", F.row_number().over(w) - 1)
               .withColumn("_n", F.count(F.lit(1)).over(cw)))
    src = (src.withColumn("_half",
                          F.when(F.col("_i") < F.floor(F.col("_n") / 2), 0)
                           .otherwise(1))
              .withColumn("_b", F.least(F.col("_v"), F.lit(cap))))
    g = (src.groupBy("conv_id", "_b")
            .agg(F.sum(F.when(F.col("_half") == 0, 1).otherwise(0))
                  .cast("decimal(38,0)").alias("_o1"),
                 F.sum(F.when(F.col("_half") == 1, 1).otherwise(0))
                  .cast("decimal(38,0)").alias("_o2"),
                 F.first("_n").alias("_n")))
    n = F.col("_n").cast("decimal(38,0)")
    n1 = F.floor(F.col("_n") / 2).cast("decimal(38,0)")
    n2 = (n - n1).cast("decimal(38,0)")
    o1, o2 = F.col("_o1"), F.col("_o2")
    num = ((o1 * n2 - o2 * n1) * (o1 * n2 - o2 * n1)).cast("decimal(38,0)")
    den = (n1 * n2 * (o1 + o2)).cast("decimal(38,0)")
    term6 = micro6(num.cast("double") / den.cast("double")).cast("decimal(38,0)")
    agg = (g.withColumn("_t6", F.when((n1 > 0) & (n2 > 0), term6))
            .groupBy("conv_id")
            .agg(F.max("_n").alias("n_points"),
                 F.count(F.lit(1)).alias("_nb"),
                 F.sum("_t6").alias("_s6")))
    ok = F.col("n_points") >= 2
    return agg.select(
        "conv_id", F.col("n_points"),
        F.when(ok, F.col("_nb") - 1).cast("long").alias("dof"),
        F.when(ok, F.col("_s6").cast("double") / F.lit(1e6)).alias("chi2"))


def trig_micro_tables(period: int) -> tuple[list[int], list[int]]:
    """cos/sin lookup tables for one candidate period, snapped to integer
    micro-units on the DRIVER (floor(f(2*pi*k/period)*1e6 + 0.5) for
    k in 0..period-1). Snapping happens once in Python so Spark and the
    DuckDB oracle consume the SAME integer constants — no dependence on
    either engine's libm rounding in the last bit."""
    import math

    cs, sn = [], []
    for k in range(period):
        ang = 2.0 * math.pi * k / period
        cs.append(int(vecmath.micro6(math.cos(ang))))
        sn.append(int(vecmath.micro6(math.sin(ang))))
    return cs, sn


def periodogram(tier: DataFrame, periods=(30, 60, 120, 240),
                value_col: str = "turn_count",
                min_cycles: int = 2) -> DataFrame:
    """Harmonic power scan — the dominant-period detector that feeds the
    engine's harmonic fits (YATSM fixes the seasonal frequency a priori;
    this measures which candidate frequency the series actually carries).

    For each series and candidate period ``p`` (in slots), the single-
    frequency Fourier power of the mean-centered series, normalized by
    total variance so it reads as fraction-of-variance-explained:

        A = n*Sxc - Sx*Sc,  B = n*Sxs - Sx*Ss
        power = 2 * (A^2 + B^2) / (n * (n*Sxx - Sx^2) * W)
        W = sum of squared micro-cos + micro-sin table entries over the
        grid; the factor 2 makes a pure single-frequency tone read 1.0
        (a square wave reads 8/pi^2 ~ 0.81 at its fundamental)

    computed ONLY from exact integer moments (n, Sx, Sxx, Sc, Ss, Sxc,
    Sxs — decimal(38,0) partials) with the trig tables pre-snapped to
    micro-units by :func:`trig_micro_tables`, so the one final double
    expression is evaluated on identical integers by Spark and the
    DuckDB oracle. Periods with fewer than ``min_cycles`` full cycles of
    grid coverage, or zero series variance, emit NULL power.

    Input is the GAP-FILLED 1m tier (zeros present; periods count 1m
    slots): absent slots are part of the sampled grid, and a periodogram
    over a grid with holes mis-weights the trig sums. Scale shape:
    explode x |periods| (constant factor), ONE (series, period) hash agg
    with map-side partials, then a tiny window over the aggregated rows
    for the dominant flag. No UDFs, no collect; the lookup arrays are
    plan literals."""
    slot = F.floor(F.col("window_start").cast("double")
                   / F.lit(float(TIERS["1m"]))).cast("long")
    x = F.col(value_col).cast("long")

    exp = tier.select(
        F.col("conv_id"), slot.alias("_slot"), x.alias("_x"),
        F.explode(F.array(*[F.lit(int(p)) for p in periods])).alias("period"))

    ccol, scol = None, None
    for p in periods:
        cs, sn = trig_micro_tables(p)
        k = (F.col("_slot") % F.lit(int(p))).cast("int")
        carr = F.array(*[F.lit(v) for v in cs])
        sarr = F.array(*[F.lit(v) for v in sn])
        cc = F.element_at(carr, k + 1).cast("long")
        ss = F.element_at(sarr, k + 1).cast("long")
        if ccol is None:
            ccol = F.when(F.col("period") == p, cc)
            scol = F.when(F.col("period") == p, ss)
        else:
            ccol = ccol.when(F.col("period") == p, cc)
            scol = scol.when(F.col("period") == p, ss)

    w = exp.select(F.col("conv_id"), "period", "_x",
                   ccol.alias("_c"), scol.alias("_s"))
    d38 = "decimal(38,0)"
    # Exact 128-bit-style moment sums WITHOUT per-row decimal arithmetic:
    # product terms are ~1e12 per row (micro-trig x counts), so a single
    # int64 sum wraps silently past ~9.2e6 grid rows per group in non-ANSI
    # Spark while the DuckDB oracle sums in HUGEINT — but summing
    # decimal(38,0)-cast operands costs ~3x (measured 2.3s -> 6.7s on
    # tx_periodogram at sf0.1). Instead each int64 term p is split into
    # hi = p >> 32 (arithmetic shift = floor division) and
    # lo = p - (hi << 32) in [0, 2^32); both int64 sums are overflow-free
    # for any group under 2^31 rows (|sum hi| < n*2^31, sum lo < n*2^32),
    # and the exact total hi*2^32 + lo is reassembled in decimal ONCE per
    # group. Bit-identical to the HUGEINT oracle, all-row work stays in
    # codegen'd int64.
    from yatsm_spark.operators.tsfuncs import sum128

    terms = {"_sx": F.col("_x"),
             "_sxx": F.col("_x") * F.col("_x"),
             "_sc": F.col("_c"),
             "_ss": F.col("_s"),
             "_sxc": F.col("_x") * F.col("_c"),
             "_sxs": F.col("_x") * F.col("_s"),
             "_w2": F.col("_c") * F.col("_c") + F.col("_s") * F.col("_s")}
    aggs, rebuild = sum128(terms)
    agg = (w.groupBy("conv_id", "period")
            .agg(F.count(F.lit(1)).cast(d38).alias("_n"), *aggs)
            .select("conv_id", "period", "_n", *rebuild))

    n, sx, sxx = F.col("_n"), F.col("_sx"), F.col("_sxx")
    a = (n * F.col("_sxc") - sx * F.col("_sc")).cast("double")
    b = (n * F.col("_sxs") - sx * F.col("_ss")).cast("double")
    varn = (n * sxx - sx * sx).cast("double")
    denom = n.cast("double") * varn * F.col("_w2").cast("double")
    power = F.when(
        (varn > 0) & (n >= F.col("period").cast(d38) * min_cycles),
        F.round(F.lit(2.0) * (a * a + b * b) / denom, 6))
    scored = agg.select(F.col("conv_id"), "period", power.alias("power"))

    win = Window.partitionBy("conv_id").orderBy(
        F.col("power").desc_nulls_last(), F.col("period").asc())
    return scored.withColumn(
        "dominant",
        F.when(F.col("power").isNotNull(),
               F.row_number().over(win) == 1).otherwise(F.lit(False)))
