"""Structured Streaming ingest into the 1m tier + online break monitor.

SURVEY.md §2.11: the reference is batch-only (dates pre-sorted, late data
unsupported); the graft's streaming path is the v2 addition:

- ``stream_rollup_1m``: readStream -> watermarked tumbling 1m aggregation,
  append mode. The aggregate list is the batch one (integral moments,
  operators/rollup.py::MOMENTS), so a finalized streaming window equals
  the batch rollup row for the same slot — tested in
  tests/test_streaming.py by diffing a Trigger.AvailableNow run against
  the batch operator.
- ``online_monitor``: applyInPandasWithState per conv — the streaming
  analogue of the CCDC monitor loop (state = baseline moments + consecutive
  over-threshold counter). Emits break alerts online; exact batch parity is
  NOT claimed (the batch kernel refits retrospectively; the online monitor
  is a z-score approximation), matching the engine's batch-is-exact /
  stream-is-operational split.
- bit-exact streaming twins of the batch series toolkit, each with a
  pinned parity contract across micro-batch boundaries:
  ``stream_anomaly`` (= batch flags, ring of k values),
  ``stream_ewma`` / ``stream_holtwinters`` (= batch doubles to the last
  bit, O(1)/O(period) state), ``stream_alert_episodes`` (= batch
  episodes minus the still-open tail), ``stream_swing`` (= batch
  archive keep-set minus the stream-unobservable final point),
  ``stream_left_profile`` (= batch rows exactly, NO withheld tail — a
  left profile never changes once emitted), ``stream_sessionize``,
  ``stream_hll_registers`` / ``stream_cms_counters`` (sketch merges ARE
  streaming aggregates).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from yatsm_spark.ingest import with_measures
from yatsm_spark.operators.rollup import MEASURES, turn_aggs


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

_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType(), False),
    T.StructField("s", T.DoubleType(), False),      # sum of rates
    T.StructField("ss", T.DoubleType(), False),     # sum of squared rates
    T.StructField("consec", T.IntegerType(), False),
])


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
    import numpy as np

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


def _monitor_fn(threshold: float, consecutive: int, min_train: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        st = state.get if state.exists else (0, 0.0, 0.0, 0)
        alerts = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            found, st = monitor_scan(
                pdf["turn_count"].to_numpy(), st, threshold, consecutive, min_train)
            ws = pdf["window_start"].reset_index(drop=True)
            alerts.extend((key[0], ws.iloc[j], z, mean) for j, z, mean in found)
        state.update(tuple(st))
        if alerts:
            yield pd.DataFrame(alerts, columns=["conv_id", "alert_ts", "score", "baseline_rate"])

    return fn


def online_monitor(
    rollup_stream: DataFrame,
    threshold: float = 3.55,
    consecutive: int = 5,
    min_train: int = 16,
) -> DataFrame:
    """Stateful per-conv break monitor over a streaming 1m rollup.
    State = baseline (n, Σ, Σ²) + consecutive counter — the same moment
    discipline as the tiers, O(1) state per conv."""
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _monitor_fn(threshold, consecutive, min_train),
        outputStructType=ALERT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: stream_anomaly output — every input row, flagged (exact batch parity)
_ANOM_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("turn_count", T.LongType()),
    T.StructField("is_anomaly", T.BooleanType()),
])
#: state = ring buffer of the last k values (bounded, O(k) per conv)
_ANOM_STATE = T.StructType([
    T.StructField("buf", T.ArrayType(T.LongType())),
])


def _anomaly_fn(k: int, sigma: int, min_n: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        buf = list(state.get[0]) if state.exists else []
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v in zip(pdf["window_start"], pdf["turn_count"]):
                v = int(v)
                n = len(buf)
                if n >= min_n:
                    # Python ints: arbitrary precision, so this is the
                    # SAME exact-integer cross-multiplied test as the
                    # batch operator's decimal(38,0) arithmetic.
                    s = sum(buf)
                    q = sum(x * x for x in buf)
                    dev = n * v - s
                    var_n = n * q - s * s
                    flag = (dev * dev * (n - 1) > sigma * sigma * n * var_n
                            if var_n > 0 else dev != 0)
                else:
                    flag = None
                out.append((key[0], ws, v, flag))
                buf.append(v)
                if len(buf) > k:
                    buf = buf[-k:]
        state.update((buf,))
        if out:
            yield pd.DataFrame(out, columns=["conv_id", "window_start",
                                             "turn_count", "is_anomaly"])

    return fn


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
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _anomaly_fn(k, sigma, min_n),
        outputStructType=_ANOM_SCHEMA,
        stateStructType=_ANOM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: stream_alert_episodes output — one row per CLOSED episode
_EPISODE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("episode_start", T.TimestampType()),
    T.StructField("episode_end", T.TimestampType()),
    T.StructField("n_slots", T.LongType()),
    T.StructField("peak_zscore", T.DoubleType()),
    T.StructField("peak_value", T.LongType()),
])
#: state = the currently-open episode (epoch-micros bounds, slot count,
#: peak snapped zscore + its value; has_z distinguishes "all peaks were
#: NULL-z zero-variance anomalies" from a real peak)
_EPISODE_STATE = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("peakz", T.DoubleType()),
    T.StructField("has_z", T.BooleanType()),
    T.StructField("peakv", T.LongType()),
])


def _episode_fn():
    NEG = float("-inf")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            s0, e0, n0, pz, has_z, pv = state.get
            open_ep = (s0, e0, n0, pz if has_z else NEG, pv)
        else:
            open_ep = None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v, flag, z in zip(pdf["window_start"],
                                      pdf["turn_count"],
                                      pdf["is_anomaly"], pdf["zscore"]):
                us = int(pd.Timestamp(ws).value // 1_000)
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
        if open_ep is not None:
            s0, e0, n0, bz, bv = open_ep
            state.update((s0, e0, n0,
                          0.0 if bz == NEG else bz, bz != NEG, bv))
        else:
            state.remove()
        if out:
            yield pd.DataFrame(
                [(key[0], pd.Timestamp(s, unit="us"),
                  pd.Timestamp(e, unit="us"), n,
                  None if z == NEG else z, v)
                 for s, e, n, z, v in out],
                columns=["conv_id", "episode_start", "episode_end",
                         "n_slots", "peak_zscore", "peak_value"])

    return fn


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
    return flag_stream.groupBy("conv_id").applyInPandasWithState(
        _episode_fn(),
        outputStructType=_EPISODE_SCHEMA,
        stateStructType=_EPISODE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: stream_swing output — one row per CONFIRMED archive point
_SWING_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("turn_count", T.LongType()),
])
#: state = anchor point, previous point, and the open door fractions
#: (numerators are value-scale, denominators are micros deltas — all
#: well inside long range; comparisons run in Python ints)
_SWING_STATE = T.StructType([
    T.StructField("a_t", T.LongType()),
    T.StructField("a_x", T.LongType()),
    T.StructField("p_t", T.LongType()),
    T.StructField("p_x", T.LongType()),
    T.StructField("up_n", T.LongType()),
    T.StructField("up_d", T.LongType()),
    T.StructField("lo_n", T.LongType()),
    T.StructField("lo_d", T.LongType()),
    T.StructField("has_doors", T.BooleanType()),
])


def _swing_fn(e: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            (a_t, a_x, p_t, p_x, up_n, up_d, lo_n, lo_d,
             has_doors) = state.get
            st = [a_t, a_x, p_t, p_x, up_n, up_d, lo_n, lo_d, has_doors]
        else:
            st = None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v in zip(pdf["window_start"], pdf["turn_count"]):
                t = int(pd.Timestamp(ws).value // 1_000)
                x = int(v)
                if st is None:
                    st = [t, x, t, x, 0, 0, 0, 0, False]
                    continue
                a_t, a_x, p_t, p_x, up_n, up_d, lo_n, lo_d, hd = st
                if p_t == a_t:
                    # anchor just (re)set: confirm it as an archive
                    # point now that the series continues past it
                    out.append((key[0], pd.Timestamp(a_t, unit="us"),
                                a_x))
                while True:
                    dt = t - a_t
                    hi = x + e - a_x
                    lo = x - e - a_x
                    if not hd:
                        up_n, up_d, lo_n, lo_d, hd = hi, dt, lo, dt, True
                        break
                    if hi * up_d < up_n * dt:
                        up_n, up_d = hi, dt
                    if lo * lo_d > lo_n * dt:
                        lo_n, lo_d = lo, dt
                    if lo_n * up_d > up_n * lo_d:   # doors crossed
                        out.append((key[0],
                                    pd.Timestamp(p_t, unit="us"), p_x))
                        a_t, a_x = p_t, p_x
                        hd = False
                        continue                    # reopen over x
                    break
                st = [a_t, a_x, t, x, up_n, up_d, lo_n, lo_d, hd]
        if st is not None:
            state.update(tuple(st))
        if out:
            yield pd.DataFrame(out, columns=["conv_id", "window_start",
                                             "turn_count"])

    return fn


def stream_swing(rollup_stream: DataFrame, e: int = 2) -> DataFrame:
    """Streaming twin of ``operators.downsample.swing_door``: the
    swinging-door retention codec maintained online with O(1) state per
    conv (anchor, previous point, open door fractions). Decisions are
    the SAME integer cross-multiplications as the batch kernel on the
    same rows, so the emitted archive stream is EXACTLY the batch
    keep-set minus its final element — the series-final point is only
    archivable once the series ends, which a stream never observes
    (pytest pins the contract, including a micro-batch boundary landing
    mid-corridor). Rows must arrive in window_start order per conv —
    the module-wide contract."""
    if e < 0:
        raise ValueError("stream_swing: error bound e must be >= 0")
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _swing_fn(int(e)),
        outputStructType=_SWING_SCHEMA,
        stateStructType=_SWING_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: stream_left_profile output — one row per window, the novelty score
_LP_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("idx", T.LongType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("lp", T.DoubleType()),
    T.StructField("lp_idx", T.LongType()),
])
#: state = ring of the last m-1+excl+w_hist raw values (+ their slot
#: micros), plus the global bookkeeping that maps ring-local window
#: indices back to series indices
_LP_STATE = T.StructType([
    T.StructField("vals", T.ArrayType(T.LongType())),
    T.StructField("ts", T.ArrayType(T.LongType())),
    T.StructField("n_dropped", T.LongType()),
    T.StructField("n_emitted", T.LongType()),
])


def _lp_fn(m: int, w_hist: int, excl: int):
    import numpy as np

    from yatsm_spark.kernel.matrixprofile import left_profile

    R = m - 1 + excl + w_hist      # exactly enough history for parity

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            vals, ts, n_dropped, n_emitted = state.get
            vals, ts = list(vals), list(ts)
        else:
            vals, ts, n_dropped, n_emitted = [], [], 0, 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v in zip(pdf["window_start"], pdf["turn_count"]):
                vals.append(int(v))
                ts.append(int(pd.Timestamp(ws).value // 1_000))
        if vals:
            lp, lpi = left_profile(np.array(vals, dtype=np.int64),
                                   m, w_hist, excl)
            for w in range(len(lp)):
                gidx = n_dropped + w
                if gidx < n_emitted:
                    continue
                out.append((key[0], gidx,
                            pd.Timestamp(ts[w], unit="us"),
                            None if not np.isfinite(lp[w])
                            else float(lp[w]),
                            None if lpi[w] < 0
                            else int(n_dropped + lpi[w])))
                n_emitted = gidx + 1
            drop = max(0, len(vals) - R)
            vals, ts = vals[drop:], ts[drop:]
            n_dropped += drop
        state.update((vals, ts, n_dropped, n_emitted))
        if out:
            yield pd.DataFrame(out, columns=["conv_id", "idx",
                                             "window_start", "lp",
                                             "lp_idx"])

    return fn


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
    if excl is None:
        excl = m // 2
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _lp_fn(int(m), int(w_hist), int(excl)),
        outputStructType=_LP_SCHEMA,
        stateStructType=_LP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: stream_ewma output — every input row with its smoothed value
_EWMA_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("turn_count", T.LongType()),
    T.StructField("ewma", T.DoubleType()),
])
#: state = the last smoothed value (one double per conv)
_EWMA_STATE = T.StructType([T.StructField("s", T.DoubleType())])


def _ewma_fn(alpha: float):
    beta = 1.0 - alpha

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        s = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v in zip(pdf["window_start"], pdf["turn_count"]):
                x = float(v)
                s = x if s is None else alpha * x + beta * s
                out.append((key[0], ws, int(v), s))
        if s is not None:
            state.update((s,))
        if out:
            yield pd.DataFrame(out, columns=["conv_id", "window_start",
                                             "turn_count", "ewma"])

    return fn


def stream_ewma(rollup_stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Streaming twin of ``operators.tsfuncs.ewma``: the adjust=False
    recurrence maintained online with O(1) state per conv (the last
    smoothed double). Same float64 multiply-add order as the batch
    kernel, so the emitted stream is BIT-equal to the batch column on
    the same rows in the same order — including across micro-batch
    boundaries, where the state round-trip must preserve the exact
    double (pytest pins it). Pick alpha whose complement is an exact
    binary fraction (0.25 default) for the cross-engine guarantee the
    batch operator documents."""
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _ewma_fn(alpha),
        outputStructType=_EWMA_SCHEMA,
        stateStructType=_EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HW_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("turn_count", T.LongType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("trend", T.DoubleType()),
    T.StructField("seasonal", T.DoubleType()),
])
#: state = (level, trend, ring of the last `period` seasonals). The
#: zero-initialized ring makes the warm-up window implicit: while fewer
#: than `period` rows have been seen, s_prev reads a 0.0 slot — exactly
#: the batch kernel's `se[i-p] if i >= p else 0.0`.
_HW_STATE = T.StructType([
    T.StructField("level", T.DoubleType()),
    T.StructField("trend", T.DoubleType()),
    T.StructField("ring", T.ArrayType(T.DoubleType())),
])


def _hw_fn(alpha: float, beta: float, gamma: float, period: int):
    a, a1 = alpha, 1.0 - alpha
    b, b1 = beta, 1.0 - beta
    g, g1 = gamma, 1.0 - gamma

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            lv, tr, ring = state.get[0], state.get[1], list(state.get[2])
        else:
            lv, tr, ring = None, 0.0, [0.0] * period
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v in zip(pdf["window_start"], pdf["turn_count"]):
                x = float(v)
                if lv is None:
                    lv, tr, se = x, 0.0, 0.0
                else:
                    sp = ring[0]
                    nl = a * (x - sp) + a1 * (lv + tr)
                    tr = b * (nl - lv) + b1 * tr
                    se = g * (x - nl) + g1 * sp
                    lv = nl
                ring = ring[1:] + [se]
                out.append((key[0], ws, int(v), lv, tr, se))
        if lv is not None:
            state.update((lv, tr, ring))
        if out:
            yield pd.DataFrame(out, columns=["conv_id", "window_start",
                                             "turn_count", "level",
                                             "trend", "seasonal"])

    return fn


def stream_holtwinters(rollup_stream: DataFrame, alpha: float = 0.5,
                       beta: float = 0.25, gamma: float = 0.25,
                       period: int = 24) -> DataFrame:
    """Streaming twin of ``operators.tsfuncs.holt_winters``: the additive
    triple-smoothing recurrence maintained online with O(period) state
    per conv (level + trend doubles and a `period`-slot seasonal ring,
    the same ring the DuckDB oracle carries). The recurrence evaluates
    the identical float64 expressions in the identical order as the
    batch kernel, so emitted level/trend/seasonal streams are BIT-equal
    to the batch columns — including across micro-batch boundaries,
    where the array-typed state round-trip must hand back exact doubles
    (pytest pins it)."""
    if period < 1:
        raise ValueError("period must be >= 1")
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _hw_fn(alpha, beta, gamma, period),
        outputStructType=_HW_SCHEMA,
        stateStructType=_HW_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(stream: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      timeout_s: int = 1800,
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
    s = stream.withWatermark(ts_col, watermark)
    w = F.session_window(F.col(ts_col), f"{timeout_s} seconds")
    return (
        s.groupBy(F.col(key_col), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.max(ts_col).alias("last_ts"),
             F.size(F.collect_set(type_col)).cast("long").alias("n_event_types"))
        .select(F.col(key_col), F.col("w.start").alias("session_start"),
                F.col("last_ts").alias("session_end"), "n_events",
                "n_event_types",
                ((F.unix_micros(F.col("last_ts").cast("timestamp"))
                  - F.unix_micros(F.col("w.start").cast("timestamp"))) / 1e6).alias("duration_s"))
    )


def stream_hll_registers(stream: DataFrame, group_cols: list[str],
                         value_col: str, window: str = "1 minute",
                         ts_col: str = "ts",
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
    from yatsm_spark.operators.sketches import hll_parts

    bucket, rho = hll_parts(value_col)
    s = (stream.filter(F.col(value_col).isNotNull())
               .withWatermark(ts_col, watermark))
    return (s.select(F.col(ts_col), *group_cols, bucket.alias("bucket"),
                     rho.alias("rho"))
             .groupBy(F.window(ts_col, window).alias("w"),
                      *group_cols, "bucket")
             .agg(F.max("rho").alias("register"))
             .select(F.col("w.start").alias("window_start"),
                     *group_cols, "bucket", "register"))


def stream_cms_counters(stream: DataFrame, group_cols: list[str],
                        value_col: str, window: str = "1 minute",
                        ts_col: str = "ts",
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
    from yatsm_spark.operators.sketches import CMS_DEPTH, cms_col

    s = (stream.filter(F.col(value_col).isNotNull())
               .withWatermark(ts_col, watermark))
    cells = F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"), cms_col(value_col, r).alias("c"))
        for r in range(CMS_DEPTH)])).alias("_cell")
    return (s.select(F.col(ts_col), *group_cols, cells)
             .select(F.col(ts_col), *group_cols,
                     F.col("_cell.r").alias("r"), F.col("_cell.c").alias("c"))
             .groupBy(F.window(ts_col, window).alias("w"),
                      *group_cols, "r", "c")
             .agg(F.count("*").alias("cnt"))
             .select(F.col("w.start").alias("window_start"),
                     *group_cols, "r", "c", "cnt"))


#: stream_kalman output — every input row with its filtered level/variance
_KAL_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("turn_count", T.LongType()),
    T.StructField("kalman_level", T.DoubleType()),
    T.StructField("kalman_var", T.DoubleType()),
])
#: state = the UNSNAPPED posterior (m, p) — snapping happens only on emit
#: (kernel/kalman.py discipline), so the recursion dynamics round-trip
#: the exact doubles across micro-batches.
_KAL_STATE = T.StructType([
    T.StructField("m", T.DoubleType()),
    T.StructField("p", T.DoubleType()),
])


def _kalman_fn(q: float, r: float, p0: float):
    import math

    def _snap(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            m, p = state.get[0], state.get[1]
            seen = True
        else:
            m, p, seen = 0.0, p0, False
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("window_start", kind="stable")
            for ws, v in zip(pdf["window_start"], pdf["turn_count"]):
                x = float(v)
                if seen:
                    p = p + q
                else:
                    m, seen = x, True  # diffuse first-observation prior
                k = p / (p + r)
                m = m + k * (x - m)
                p = (1.0 - k) * p
                out.append((key[0], ws, int(v), _snap(m), _snap(p)))
        state.update((m, p))
        if out:
            yield pd.DataFrame(out, columns=["conv_id", "window_start",
                                             "turn_count", "kalman_level",
                                             "kalman_var"])

    return fn


def stream_kalman(rollup_stream: DataFrame, q: float = 1.0, r: float = 4.0,
                  p0: float = 1e6) -> DataFrame:
    """Streaming twin of the FORWARD pass of ``operators.kalman.
    kalman_smooth``: the local-level Kalman filter maintained online with
    O(1) state per conv (posterior mean + variance, two doubles). The
    float64 op order is identical to kernel/kalman.py's filter loop, so
    emitted (kalman_level, kalman_var) are BIT-equal to the batch
    columns on the same rows — including across micro-batch boundaries
    (state stores the unsnapped doubles; pytest pins it). The RTS
    smoother column is inherently offline (it reads the future) and has
    no streaming twin — by design, not omission."""
    return rollup_stream.groupBy("conv_id").applyInPandasWithState(
        _kalman_fn(q, r, p0),
        outputStructType=_KAL_SCHEMA,
        stateStructType=_KAL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
