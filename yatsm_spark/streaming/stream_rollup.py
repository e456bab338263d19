"""Structured Streaming ingest into the 1m tier + online break monitor.

SURVEY.md §2.11: the reference is batch-only (dates pre-sorted, late data
unsupported); the graft's streaming path is the v2 addition:

- ``stream_rollup_1m``: readStream -> watermarked tumbling 1m aggregation,
  append mode. The aggregate list is the batch one (integral moments,
  operators/rollup.py::MOMENTS), so a finalized streaming window equals
  the batch rollup row for the same slot — tested in
  tests/test_streaming.py by diffing a Trigger.AvailableNow run against
  the batch operator.
- ``online_monitor``: a stateful per-conv step — the streaming analogue of
  the CCDC monitor loop (state = baseline moments + consecutive
  over-threshold counter). Emits break alerts online; exact batch parity is
  NOT claimed (the batch kernel refits retrospectively; the online monitor
  is a z-score approximation), matching the engine's batch-is-exact /
  stream-is-operational split.
- bit-exact streaming twins of the batch series toolkit, each with a
  pinned parity contract across micro-batch boundaries:
  ``stream_anomaly`` (= batch flags, ring of k values),
  ``stream_ewma`` / ``stream_holtwinters`` / ``stream_kalman`` (= batch
  doubles to the last bit), ``stream_alert_episodes`` (= batch episodes
  minus the still-open tail), ``stream_swing`` (= batch archive keep-set
  minus the stream-unobservable final point), ``stream_left_profile``
  (= batch rows exactly, NO withheld tail — a left profile never changes
  once emitted), ``stream_sessionize``, ``stream_hll_registers`` /
  ``stream_cms_counters`` (sketch merges ARE streaming aggregates).

The tier twins read a 1m tier stream (``conv_id``, ``window_start``), the
ingest reads a transcripts stream and ``stream_sessionize`` an events
stream (``user_id``, ``ts``, ``event_type``).

The EWMA, Holt-Winters, Kalman-filter and swing-door twins hold no
recurrence of their own: each runs the batch operator's resumable kernel
(kernel/smooth.py, kernel/kalman.py, kernel/swing.py) once per micro-batch
with the state the previous micro-batch returned, so their parity is
shared code, not a second copy kept in step. Every stateful twin runs
through operators/series.py::per_series_stateful, which orders each
group's rows of a micro-batch on window_start as a whole — not per Arrow
chunk — before the step sees them. Across micro-batches, order is the
source's append order: rows of a conv must arrive in window_start order
from one micro-batch to the next, the contract every twin here shares.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from yatsm_spark.ingest import with_measures
from yatsm_spark.kernel import smooth
from yatsm_spark.kernel.kalman import kalman_filter
from yatsm_spark.kernel.matrixprofile import left_profile
from yatsm_spark.kernel.swing import swing_doors
from yatsm_spark.kernel.vecmath import snap6
from yatsm_spark.operators.rollup import MEASURES, turn_aggs
from yatsm_spark.operators.series import per_series_stateful
from yatsm_spark.operators.sketches import CMS_DEPTH, cms_col, hll_parts


def stream_rollup_1m(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked 1m tumbling rollup. Append-mode ready: rows emit once
    the watermark passes the window end — the streaming high-watermark that
    feeds the same cascade/eviction machinery as batch.

    Late-data contract (pinned by
    tests/test_streaming.py::test_watermark_drops_late_data_across_microbatches):
    Spark's watermark is a state-RETENTION bound, not an input filter. A
    straggler that arrives while its window's state is still live (same
    micro-batch as the eviction) is absorbed into the emitted point; one
    that arrives after the window was emitted is dropped
    (numRowsDroppedByWatermark) and the emitted point never changes —
    finalized tier points are immutable, exactly the batch tier contract."""
    m = with_measures(stream).withWatermark("ts", watermark)
    return (
        m.groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(*turn_aggs())
        .select("conv_id", F.col("w.start").alias("window_start"), *MEASURES)
    )


ALERT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("alert_ts", T.TimestampType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("baseline_rate", T.DoubleType(), False),
])

#: the (conv_id, window_start, turn_count) rows every twin reads, and the
#: leading output columns of the per-row twins
_ROW = ["conv_id string", "window_start timestamp", "turn_count long"]


def _per_conv(stream: DataFrame, step, schema, state_schema, name: str,
              extra: tuple = ()) -> DataFrame:
    return per_series_stateful(
        stream.select("conv_id", "window_start", "turn_count", *extra),
        "conv_id", "window_start", step, schema, state_schema, name=name)


def _micros(ws: pd.Series) -> np.ndarray:
    return ws.to_numpy(dtype="datetime64[us]").astype(np.int64)


def monitor_scan(rates, state, threshold: float, consecutive: int, min_train: int):
    """Vectorized exact replay of the per-row monitor state machine.

    Per-row semantics (what a scalar loop would do):
      - while n < min_train: absorb the row into the baseline (n, Σ, Σ²)
      - else z = |rate - mean| / sd of the CURRENT baseline;
        z >  threshold: consec += 1; row NOT absorbed (baseline freezes);
                        consec == consecutive -> alert + full state reset
        z <= threshold: consec = 0; absorb row
    Vectorization: between events the scan is branch-free, so each while
    iteration handles a whole RUN with numpy — (a) training fill, (b)
    absorb-run under running cumulative baselines up to the first
    violation, (c) violation-run against the frozen baseline up to the
    alert or the run's death. Iteration count is O(#alerts + #candidate
    runs), not O(#rows) (round-1 verdict: the per-row loop was the
    slowest streaming stage at scale; micro-bench in
    BENCH/STREAM_MONITOR.md).

    Returns (alert list of (row_idx, z, baseline_mean), new_state).
    """
    n, s, ss, consec = state
    rates = np.asarray(rates, dtype=np.float64)
    m = len(rates)
    # Global exclusive prefix sums, computed ONCE: the running baseline at
    # any row j of an absorb-run starting at i is (s + P[j]-P[i],
    # ss + Q[j]-Q[i]) because every row in [i, j) is absorbed. (Candidate
    # rows are skipped only by the frozen-run below, which advances i past
    # them, so no window ever spans a skipped row.) For count data the
    # differences are integer-exact in any summation order.
    P = np.empty(m + 1)
    P[0] = 0.0
    np.cumsum(rates, out=P[1:])
    Q = np.empty(m + 1)
    Q[0] = 0.0
    np.cumsum(rates * rates, out=Q[1:])
    t2 = threshold * threshold
    i = 0
    alerts = []
    # Scan in ADAPTIVE windows: start small after any event, grow 4x on
    # each clean window. Each while-iteration touches O(w) elements, so
    # total work is O(m + events*w_min) — both an unbounded tail-scan per
    # event (O(events*m)) and a fixed large window (O(events*W)) are
    # slower than the scalar loop on bursty data.
    W_MAX = 16384
    w = 512
    ar = np.arange(W_MAX, dtype=np.float64)
    while i < m:
        if n < min_train:
            take = min(min_train - n, m - i)
            n += take
            s += float(P[i + take] - P[i])
            ss += float(Q[i + take] - Q[i])
            i += take
            continue
        if consec == 0:
            # absorb-run: assume every row absorbed; the assumption is
            # self-consistent up to (and excluding) the first violation.
            # z > threshold  <=>  (r-mean)^2 > threshold^2 * var, keeping
            # the whole test sqrt/abs/div-free.
            end = min(i + w, m)
            L = end - i
            cs = P[i:end] + (s - P[i])         # running Σ before each row
            css = Q[i:end] + (ss - Q[i])
            cn = ar[:L] + n
            mean = cs / cn
            var = css / cn
            var -= mean * mean
            np.maximum(var, 1e-9, out=var)
            d = rates[i:end] - mean
            d *= d
            var *= t2
            viol = d > var
            k = int(np.argmax(viol))
            if not viol[k]:
                # whole window clean: absorb it all, grow the window
                n += L
                s += float(P[end] - P[i])
                ss += float(Q[end] - Q[i])
                i = end
                w = min(w * 4, W_MAX)
                continue
            if k > 0:
                n += k
                s += float(P[i + k] - P[i])
                ss += float(Q[i + k] - Q[i])
                i += k
            w = 512
            # row i violates the current baseline -> fall through
        # violation-run against the FROZEN baseline (candidate rows are
        # never absorbed, so mean/sd stay constant for the whole run).
        # At most `consecutive` rows per event — scalar beats numpy here.
        mean = s / n
        sd = max(ss / n - mean * mean, 1e-9) ** 0.5
        while i < m:
            z = abs(float(rates[i]) - mean) / sd
            if z <= threshold:
                consec = 0         # run died; this row is absorbed by the
                break              # next absorb-run (i NOT advanced)
            consec += 1
            i += 1
            if consec >= consecutive:
                alerts.append((i - 1, z, mean))
                n, s, ss, consec = 0, 0.0, 0.0, 0
                break
        # i == m with consec > 0: batch ended mid-run; consec carries.
    return alerts, (n, s, ss, consec)


def online_monitor(
    rollup_stream: DataFrame,
    threshold: float = 3.55,
    consecutive: int = 5,
    min_train: int = 16,
) -> DataFrame:
    """Stateful per-conv break monitor over a streaming 1m rollup.
    State = baseline (n, Σ, Σ²) + consecutive counter — the same moment
    discipline as the tiers, O(1) state per conv."""
    def step(pdf, st):
        found, st = monitor_scan(pdf["turn_count"].to_numpy(),
                                 st or (0, 0.0, 0.0, 0), threshold,
                                 consecutive, min_train)
        if not found:
            return None, st
        return pd.DataFrame(
            [(pdf["conv_id"][j], pdf["window_start"][j], z, mean)
             for j, z, mean in found],
            columns=["conv_id", "alert_ts", "score", "baseline_rate"]), st

    # state: n, Σ rate, Σ rate², consecutive over-threshold rows
    return _per_conv(rollup_stream, step, ALERT_SCHEMA,
                     ["n long", "s double", "ss double", "consec int"],
                     "online_monitor")


def stream_anomaly(rollup_stream: DataFrame, k: int = 30, sigma: int = 3,
                   min_n: int = 8) -> DataFrame:
    """Streaming twin of ``operators.tsfuncs.rolling_anomaly``: per-conv
    3-sigma z-test of each arriving slot against the k slots that
    preceded it, with the flag decided in exact integer arithmetic —
    BIT-equal to the batch operator on the same rows in the same order
    (pytest pins the parity). State is a bounded ring buffer of the
    last k values (O(k) longs per conv; the batch operator's window
    frame, persisted). Rows are processed in window_start order within
    each micro-batch; cross-batch order is the source's append order —
    the same contract ``online_monitor`` has."""
    def step(pdf, st):
        buf = list(st[0]) if st else []
        flags = []
        for v in pdf["turn_count"].tolist():
            n = len(buf)
            if n >= min_n:
                # Python ints: arbitrary precision, so this is the
                # SAME exact-integer cross-multiplied test as the
                # batch operator's decimal(38,0) arithmetic.
                s = sum(buf)
                q = sum(x * x for x in buf)
                dev = n * v - s
                var_n = n * q - s * s
                flags.append(dev * dev * (n - 1) > sigma * sigma * n * var_n
                             if var_n > 0 else dev != 0)
            else:
                flags.append(None)
            buf.append(v)
            if len(buf) > k:
                buf = buf[-k:]
        return pdf.assign(is_anomaly=flags), (buf,)

    return _per_conv(rollup_stream, step, _ROW + ["is_anomaly boolean"],
                     ["buf array<bigint>"], "stream_anomaly")


def stream_alert_episodes(flag_stream: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.tsfuncs.alert_episodes``: consumes
    a flag stream (``stream_anomaly``'s output shape) and emits each
    alert episode THE MOMENT IT CLOSES — when the first non-flagged
    (false or NULL) row arrives after a run of flagged rows. O(1) state
    per conv (the open episode: bounds, count, running peak). Peak
    semantics match the batch max_by((zscore, slot)) key exactly: a
    later slot with an equal snapped zscore replaces the peak (>=), and
    zero-variance anomalies (NULL z) rank below any real z.

    Batch-parity contract (pytest): the emitted episodes equal
    ``alert_episodes`` of the same rows MINUS any still-open trailing
    episode per conv (append-mode semantics — it closes when a
    non-flagged row eventually arrives). Input rows must arrive in
    window_start order per conv, the contract every stream in this
    module shares."""
    NEG = float("-inf")

    def step(pdf, st):
        # the open episode: epoch-micros bounds, slot count, peak
        # snapped zscore + its value; the stored has_z tells "all peaks
        # were NULL-z zero-variance anomalies" from a real peak
        open_ep = None if st is None else (st[0], st[1], st[2],
                                           st[3] if st[4] else NEG, st[5])
        out = []
        for us, v, flag, z in zip(_micros(pdf["window_start"]).tolist(),
                                  pdf["turn_count"], pdf["is_anomaly"],
                                  pdf["zscore"]):
            if (not pd.isna(flag)) and bool(flag):
                zz = NEG if pd.isna(z) else float(z)
                if open_ep is None:
                    open_ep = (us, us, 1, zz, int(v))
                else:
                    s0, _, n0, bz, bv = open_ep
                    # >= : equal peaks resolve to the LATER slot,
                    # matching batch max_by((zscore, slot))
                    if zz >= bz:
                        bz, bv = zz, int(v)
                    open_ep = (s0, us, n0 + 1, bz, bv)
            elif open_ep is not None:
                out.append(open_ep)
                open_ep = None
        frame = pd.DataFrame(
            [(pdf["conv_id"][0], pd.Timestamp(s, unit="us"),
              pd.Timestamp(e, unit="us"), n, None if z == NEG else z, v)
             for s, e, n, z, v in out],
            columns=["conv_id", "episode_start", "episode_end",
                     "n_slots", "peak_zscore", "peak_value"]) if out else None
        if open_ep is None:
            return frame, None
        s0, e0, n0, bz, bv = open_ep
        return frame, (s0, e0, n0, 0.0 if bz == NEG else bz, bz != NEG, bv)

    return _per_conv(
        flag_stream, step,
        ["conv_id string", "episode_start timestamp", "episode_end timestamp",
         "n_slots long", "peak_zscore double", "peak_value long"],
        ["start_us long", "end_us long", "n long", "peakz double",
         "has_z boolean", "peakv long"],
        "stream_alert_episodes", extra=("is_anomaly", "zscore"))


def stream_swing(rollup_stream: DataFrame, e: int = 2) -> DataFrame:
    """Streaming twin of ``operators.downsample.swing_door``: the
    swinging-door retention codec maintained online with O(1) state per
    conv (anchor, previous point, open door fractions). The door scan is
    the batch kernel's own (kernel/swing.py::swing_doors) with the state
    carried across micro-batches, so the emitted archive stream is
    EXACTLY the batch keep-set minus its final element — the
    series-final point is only archivable once the series ends, which a
    stream never observes (pytest pins the contract, including a
    micro-batch boundary landing mid-corridor). Rows must arrive in
    window_start order per conv — the module-wide contract."""
    if e < 0:
        raise ValueError("stream_swing: error bound e must be >= 0")
    e = int(e)

    def step(pdf, st):
        kept, new = swing_doors(_micros(pdf["window_start"]),
                                pdf["turn_count"].to_numpy(np.int64), e, st)
        if st is not None:
            # kept index -1 is the carried previous point: row 0 here
            prev = pdf.iloc[:1].assign(
                window_start=pd.Timestamp(st[2], unit="us"), turn_count=st[3])
            pdf = pd.concat([prev, pdf], ignore_index=True)
            kept = [i + 1 for i in kept]
        return pdf.iloc[kept], new

    # state: anchor, previous point and the open door fractions
    # (numerators are value-scale, denominators micros deltas)
    return _per_conv(rollup_stream, step, _ROW,
                     ["a_t long", "a_x long", "p_t long", "p_x long",
                      "up_n long", "up_d long", "lo_n long", "lo_d long",
                      "has_doors boolean"], "stream_swing")


def stream_left_profile(rollup_stream: DataFrame, m: int = 12,
                        w_hist: int = 64,
                        excl: int | None = None) -> DataFrame:
    """Streaming twin of ``operators.matrixprofile.left_matrix_profile``
    — online novelty/discord scoring. A left profile never changes once
    its window closes (no future window can lower it), so every score
    is emitted IMMEDIATELY and the emitted stream equals the batch
    operator's rows EXACTLY (no withheld tail). State is a ring of the
    last m-1+excl+w_hist raw values — precisely the candidate horizon —
    and the kernel replayed per micro-batch is the SAME
    left_profile(), so parity is structural, not numerical luck
    (pytest pins bit equality across a micro-batch boundary)."""
    m, w_hist = int(m), int(w_hist)
    excl = m // 2 if excl is None else int(excl)
    R = m - 1 + excl + w_hist      # exactly enough history for parity

    def step(pdf, st):
        # ring of raw values + their slot micros, and the bookkeeping that
        # maps ring-local window indices back to series indices
        vals, ts, n_dropped, n_emitted = \
            (list(st[0]), list(st[1]), st[2], st[3]) if st else ([], [], 0, 0)
        vals += pdf["turn_count"].tolist()
        ts += _micros(pdf["window_start"]).tolist()
        lp, lpi = left_profile(np.array(vals, dtype=np.int64), m, w_hist, excl)
        out = []
        for w in range(max(n_emitted - n_dropped, 0), len(lp)):
            out.append((pdf["conv_id"][0], n_dropped + w,
                        pd.Timestamp(ts[w], unit="us"),
                        float(lp[w]) if np.isfinite(lp[w]) else None,
                        int(n_dropped + lpi[w]) if lpi[w] >= 0 else None))
        n_emitted = max(n_emitted, n_dropped + len(lp))
        drop = max(0, len(vals) - R)
        frame = pd.DataFrame(out, columns=["conv_id", "idx", "window_start",
                                           "lp", "lp_idx"])
        return frame, (vals[drop:], ts[drop:], n_dropped + drop, n_emitted)

    return _per_conv(rollup_stream, step,
                     ["conv_id string", "idx long", "window_start timestamp",
                      "lp double", "lp_idx long"],
                     ["vals array<bigint>", "ts array<bigint>",
                      "n_dropped long", "n_emitted long"],
                     "stream_left_profile")


def stream_ewma(rollup_stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Streaming twin of ``operators.tsfuncs.ewma``: the adjust=False
    recurrence (kernel/smooth.py::ewma, the batch operator's own)
    maintained online with O(1) state per conv (the last smoothed
    double), so the emitted stream is BIT-equal to the batch column on
    the same rows in the same order — including across micro-batch
    boundaries, where the state round-trip must preserve the exact
    double (pytest pins it). Pick alpha whose complement is an exact
    binary fraction (0.25 default) for the cross-engine guarantee the
    batch operator documents."""
    def step(pdf, st):
        s, st = smooth.ewma(pdf["turn_count"].to_numpy(np.float64), alpha, st)
        return pdf.assign(ewma=s), st

    return _per_conv(rollup_stream, step, _ROW + ["ewma double"],
                     ["s double"], "stream_ewma")


def stream_holtwinters(rollup_stream: DataFrame, alpha: float = 0.5,
                       beta: float = 0.25, gamma: float = 0.25,
                       period: int = 24) -> DataFrame:
    """Streaming twin of ``operators.tsfuncs.holt_winters``: the additive
    triple-smoothing recurrence (kernel/smooth.py::holt_winters, the
    batch operator's own) maintained online with O(period) state per
    conv (level + trend doubles and a `period`-slot seasonal ring, the
    same ring the DuckDB oracle carries), so emitted level/trend/seasonal
    streams are BIT-equal to the batch columns — including across
    micro-batch boundaries, where the array-typed state round-trip must
    hand back exact doubles (pytest pins it)."""
    if period < 1:
        raise ValueError("period must be >= 1")

    def step(pdf, st):
        (lv, tr, se), st = smooth.holt_winters(
            pdf["turn_count"].to_numpy(np.float64), alpha, beta, gamma,
            period, st)
        return pdf.assign(level=lv, trend=tr, seasonal=se), st

    return _per_conv(rollup_stream, step,
                     _ROW + ["level double", "trend double", "seasonal double"],
                     ["level double", "trend double", "ring array<double>"],
                     "stream_holtwinters")


def stream_sessionize(stream: DataFrame, timeout_s: int = 1800,
                      watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/sessionize.py::session_stats via
    F.session_window: state merges events whose gap to the current session
    END is < timeout; append mode emits a session once the watermark
    passes its close.

    Boundary contract vs the batch operator (pinned by
    tests/test_streaming.py::test_stream_sessionize_matches_batch): a gap
    EXACTLY equal to timeout stays in-session in batch (strict >) but
    closes the session window here (Spark session windows are half-open
    [start, last+gap)); real event streams hit this only on whole-second
    boundaries. session_end is reported as the LAST EVENT ts (window end
    minus gap), aligning with the batch max(ts) convention.

    Distinct counts are not supported inside streaming aggregations, so
    n_event_types folds a collect_set (bounded by the event-type
    vocabulary, not the stream length)."""
    s = stream.withWatermark("ts", watermark)
    w = F.session_window(F.col("ts"), f"{timeout_s} seconds")
    return (
        s.groupBy(F.col("user_id"), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.max("ts").alias("last_ts"),
             F.size(F.collect_set("event_type")).cast("long").alias("n_event_types"))
        .select(F.col("user_id"), F.col("w.start").alias("session_start"),
                F.col("last_ts").alias("session_end"), "n_events",
                "n_event_types",
                ((F.unix_micros(F.col("last_ts").cast("timestamp"))
                  - F.unix_micros(F.col("w.start").cast("timestamp"))) / 1e6).alias("duration_s"))
    )


def stream_hll_registers(stream: DataFrame, group_cols: list[str],
                         value_col: str, window: str = "1 minute",
                         watermark: str = "10 minutes") -> DataFrame:
    """Streaming HLL register maintenance: per (window, group, bucket)
    MAX of rho — the sketch's merge IS a supported streaming aggregate,
    so the register table is maintained incrementally with bounded state
    (<= m rows per group per window, whatever the stream volume).

    Streaming cannot chain a second stateful aggregation, so this emits
    the REGISTER TABLE (append mode, once the watermark closes the
    window); the estimate is a cheap stateless batch pass over the
    emitted registers — ``operators.sketches.hll_estimate`` — which by
    construction equals the batch ``hll_distinct`` of the same rows
    (pinned by tests/test_streaming.py::test_stream_hll_equals_batch).
    """
    bucket, rho = hll_parts(value_col)
    s = (stream.filter(F.col(value_col).isNotNull())
               .withWatermark("ts", watermark))
    return (s.select(F.col("ts"), *group_cols, bucket.alias("bucket"),
                     rho.alias("rho"))
             .groupBy(F.window("ts", window).alias("w"),
                      *group_cols, "bucket")
             .agg(F.max("rho").alias("register"))
             .select(F.col("w.start").alias("window_start"),
                     *group_cols, "bucket", "register"))


def stream_cms_counters(stream: DataFrame, group_cols: list[str],
                        value_col: str, window: str = "1 minute",
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming count-min sketch maintenance: per (window, group, r, c)
    SUM of hits — like the HLL registers, the CMS merge IS a supported
    streaming aggregate, so counters update incrementally with bounded
    state (<= depth*width rows per group per window at any volume).

    Emits the COUNTER TABLE (append mode on watermark close); point
    queries / heavy-hitter pre-filters run as stateless batch passes over
    the emitted counters and by construction equal batch ``cms_table``
    of the same rows (tests/test_streaming.py::
    test_stream_cms_equals_batch).
    """
    s = (stream.filter(F.col(value_col).isNotNull())
               .withWatermark("ts", watermark))
    cells = F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"), cms_col(value_col, r).alias("c"))
        for r in range(CMS_DEPTH)])).alias("_cell")
    return (s.select(F.col("ts"), *group_cols, cells)
             .select(F.col("ts"), *group_cols,
                     F.col("_cell.r").alias("r"), F.col("_cell.c").alias("c"))
             .groupBy(F.window("ts", window).alias("w"),
                      *group_cols, "r", "c")
             .agg(F.count("*").alias("cnt"))
             .select(F.col("w.start").alias("window_start"),
                     *group_cols, "r", "c", "cnt"))


def stream_kalman(rollup_stream: DataFrame, q: float = 1.0, r: float = 4.0,
                  p0: float = 1e6) -> DataFrame:
    """Streaming twin of the FORWARD pass of ``operators.kalman.
    kalman_smooth``: the local-level Kalman filter
    (kernel/kalman.py::kalman_filter, the batch operator's own)
    maintained online with O(1) state per conv (posterior mean +
    variance, two doubles), so emitted (kalman_level, kalman_var) are
    BIT-equal to the batch columns on the same rows — including across
    micro-batch boundaries: the state stores the UNSNAPPED doubles and
    snapping happens only on emit (pytest pins it). The RTS smoother
    column is inherently offline (it reads the future) and has no
    streaming twin — by design, not omission."""
    def step(pdf, st):
        (_, _, m, p), st = kalman_filter(
            pdf["turn_count"].to_numpy(np.float64), q, r, p0, st)
        return pdf.assign(kalman_level=snap6(m), kalman_var=snap6(p)), st

    return _per_conv(rollup_stream, step,
                     _ROW + ["kalman_level double", "kalman_var double"],
                     ["m double", "p double"], "stream_kalman")
