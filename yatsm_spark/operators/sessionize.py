"""Sessionization: gaps-and-islands session assignment + per-session stats.

Training-data-pipeline addition: user/agent event streams get grouped into
sessions (gap > timeout starts a new one) — the standard preprocessing step
for behavioral training data and the batch twin of Structured Streaming's
`session_window`. The event operators read the events table (``user_id``,
``ts``, ``event_id``, ``event_type``); the turn operators read transcripts.

Spark-first shape: ONE shuffle on the session key. The lag/cumsum window
pass partitions by key; the per-session aggregation clusters on
(key, session_idx), and HashPartitioning(key) already satisfies that
ClusteredDistribution (subset rule), so Catalyst inserts NO second
exchange — window and agg share the same physical partitioning. Hot keys
behave like any windowed workload (bounded by the busiest single key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from yatsm_spark.operators.grid import snap6


def sessionize(events: DataFrame, timeout_s: int = 1800) -> DataFrame:
    """Append session_idx (0-based per user_id): a new session starts when
    the gap since the previous event exceeds timeout_s STRICTLY (gap ==
    timeout stays in-session). Ordering ties on (ts, event_id) for
    determinism under duplicate timestamps."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
    brk = F.when(gap_us.isNull() | (gap_us > timeout_s * 1_000_000), 1).otherwise(0)
    idx = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1
    return events.withColumn("session_idx", idx.cast("long"))


def session_stats(events: DataFrame, timeout_s: int = 1800) -> DataFrame:
    """Per-session rollup: bounds, event count, distinct event types,
    duration. All exact (timestamps/longs) — no order-dependent float
    accumulation, so any engine reproduces it bit-for-bit."""
    s = sessionize(events, timeout_s)
    dur = (F.unix_micros(F.max("ts").cast("timestamp")) - F.unix_micros(F.min("ts").cast("timestamp"))) / 1e6
    return (
        s.groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("event_type").alias("n_event_types"),
             dur.alias("duration_s"))
    )


def funnel(events: DataFrame, steps: list[str],
           horizon_s: int = 86400) -> DataFrame:
    """Ordered funnel analysis over the events table: for each step k,
    the number of users whose EARLIEST step-k event falls strictly
    after their step-(k-1) time and within ``horizon_s`` of it, plus
    the conversion rate vs step 1 (1e-6-snapped — the only float).
    Earliest-event semantics make the result order-independent: every
    per-user step time is a MIN, so the funnel is deterministic at any
    parallelism.

    Plan shape: one hash aggregation per step, chained equi-joins on
    the user key (co-partitioned after the first exchange, so Spark
    reuses the partitioning); counts reduce to one row per step. No
    windows, no UDFs."""
    if len(steps) < 2:
        raise ValueError("funnel: need at least 2 steps")
    s = events.select("user_id", "ts", "event_type")
    reached = (s.where(F.col("event_type") == steps[0])
                .groupBy("user_id")
                .agg(F.min("ts").alias("_t")))
    per_step = [reached]
    for st_ in steps[1:]:
        prev = per_step[-1].select("user_id",
                                   F.col("_t").alias("_tp"))
        nxt = (s.where(F.col("event_type") == st_)
                .join(prev, "user_id")
                .where((F.col("ts") > F.col("_tp"))
                       & (F.col("ts") <= F.col("_tp")
                          + F.expr(f"INTERVAL {int(horizon_s)} "
                                   "SECONDS")))
                .groupBy("user_id")
                .agg(F.min("ts").alias("_t")))
        per_step.append(nxt)
    counts = None
    for k, (st_, df) in enumerate(zip(steps, per_step), start=1):
        c = df.agg(F.count(F.lit(1)).alias("n_users")) \
              .select(F.lit(k).alias("step_ord"),
                      F.lit(st_).alias("step"), "n_users")
        counts = c if counts is None else counts.unionByName(c)
    base = counts.where(F.col("step_ord") == 1) \
                 .select(F.col("n_users").alias("_n1"))
    rate = F.when(F.col("_n1") > 0,
                  snap6(F.col("n_users").cast("double")
                        / F.col("_n1").cast("double")))
    return (counts.crossJoin(F.broadcast(base))
                  .select("step_ord", "step", "n_users",
                          rate.alias("conv_rate")))


def cohort_retention(events: DataFrame, period_s: int = 604800) -> DataFrame:
    """Cohort retention matrix: users bucketed by their FIRST-event
    period (the cohort); for each (cohort, period offset) the count of
    cohort members active in that period and the retention rate vs the
    cohort size. All integers until the one snapped rate division;
    MIN-based cohort assignment keeps it order-independent.

    Plan: one agg for cohorts, one distinct for (user, period)
    activity, one user-key join (co-partitioned), one final agg —
    no windows, no UDFs."""
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    slot = F.floor(epoch / (period_s * 1_000_000)).cast("long")
    s = events.select(F.col("user_id").alias("_u"), slot.alias("_p"))
    cohorts = s.groupBy("_u").agg(F.min("_p").alias("_c"))
    sizes = cohorts.groupBy("_c").agg(
        F.count(F.lit(1)).alias("n_cohort"))
    active = s.distinct()
    m = (active.join(cohorts, "_u")
               .groupBy("_c", (F.col("_p") - F.col("_c")).alias(
                   "period_offset"))
               .agg(F.count(F.lit(1)).alias("n_active")))
    rate = snap6(F.col("n_active").cast("double")
                 / F.col("n_cohort").cast("double"))
    return (m.join(sizes, "_c")
             .select(F.timestamp_micros(
                         (F.col("_c") * period_s * 1_000_000)
                         .cast("long")).alias("cohort_start"),
                     "period_offset", "n_active", "n_cohort",
                     rate.alias("retention_rate")))


def response_latency(tx: DataFrame) -> DataFrame:
    """Per-conversation response-latency profile over raw transcripts:
    each user turn pairs with the NEXT assistant turn (nearest following
    turn_idx — MIN over the forward frame, so the pairing is
    order-robust, not LEAD-fragile), latency in exact integer
    MICROSECONDS (`unix_micros` — the engine-wide no-second-truncation
    rule). User turns with no following assistant turn drop out.

    Emits (conv_id, n_pairs, lat_median_us, lat_p90_us, lat_max_us). Median
    and p90 are SELECTION ranks — lower median (m+1)//2 and
    ceil(0.9·m) spelled as floor((9m+9)/10) in INTEGER math (never
    0.9*m in floats: 9·m/10 at exact multiples rounds up in binary and
    shifts the rank) — never an interpolated average, per the
    cross-engine median discipline (BENCH/SUBMIT gotchas).

    Scale shape: one window pass partitioned by conv (forward-frame MIN
    + the rank window share the conv partitioning with the final agg —
    one shuffle total, the sessionize property)."""
    fwd = (Window.partitionBy("conv_id").orderBy("turn_idx")
           .rowsBetween(1, Window.unboundedFollowing))
    na = F.min(F.when(F.col("role") == "assistant", F.col("_us"))).over(fwd)
    lat = (tx.select("conv_id", "turn_idx", "role",
                     F.unix_micros(F.col("ts")).alias("_us"))
           .withColumn("_na", na)
           .filter((F.col("role") == "user") & F.col("_na").isNotNull())
           .select("conv_id", (F.col("_na") - F.col("_us")).alias("lat")))
    wr = Window.partitionBy("conv_id").orderBy("lat")
    rk = (lat.withColumn("rn", F.row_number().over(wr))
          .withColumn("m", F.count(F.lit(1))
                      .over(Window.partitionBy("conv_id"))))
    med_rank = F.floor((F.col("m") + 1) / 2)
    p90_rank = F.floor((9 * F.col("m") + 9) / 10)
    return rk.groupBy("conv_id").agg(
        F.max("m").cast("long").alias("n_pairs"),
        F.max(F.when(F.col("rn") == med_rank, F.col("lat")))
         .cast("long").alias("lat_median_us"),
        F.max(F.when(F.col("rn") == p90_rank, F.col("lat")))
         .cast("long").alias("lat_p90_us"),
        F.max("lat").cast("long").alias("lat_max_us"))


def tool_transitions(tx: DataFrame, include_terminal: bool = True) -> DataFrame:
    """First-order Markov transition counts over each conversation's
    TOOL-CALL sequence: for consecutive tool-bearing turns (ordered by
    turn_idx, non-tool turns skipped), count corpus-wide (tool ->
    next_tool) pairs; ``include_terminal`` adds (tool -> NULL) rows for
    each conv's final tool call, so outgoing counts per tool sum to its
    total usage. The agent-behavior mining staple (what follows a
    search? how often does a write terminate the episode?).

    Emits (tool, next_tool, n_transitions, p_next): p_next is the
    round-6 row-normalized probability — one exact integer division per
    row. One conv-partitioned LEAD window + one small hash agg; the
    window and nothing else touches per-turn data (text pruned at the
    scan)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = (tx.filter(F.col("tool").isNotNull())
           .select("conv_id", "turn_idx", "tool")
           .withColumn("next_tool", F.lead("tool").over(w)))
    if not include_terminal:
        seq = seq.filter(F.col("next_tool").isNotNull())
    counts = (seq.groupBy("tool", "next_tool")
              .agg(F.count(F.lit(1)).alias("n_transitions")))
    tot = Window.partitionBy("tool")
    return counts.select(
        "tool", "next_tool",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.round(F.col("n_transitions")
                / F.sum("n_transitions").over(tot), 6).alias("p_next"))
