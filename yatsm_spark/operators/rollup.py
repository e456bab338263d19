"""Tumbling rollups (A6) and gap-fill (W8) — pure DataFrame ops.

Parity anchors:
- A6 graft rollups (SURVEY.md §2.4): per (conv, window) turn_count,
  token-length sum/min/max (+ sumsq moment), tool_call_count, role counts.
  Spark: ``groupBy(conv_id, window(ts, tier))`` — hash aggregate with
  automatic partial (map-side) + final phases; the only shuffle is on the
  group key.
- W8 gap-fill (SURVEY.md §2.5): a row for every tier slot in each conv's
  active span; counts zero-filled, stats null. Spark: per-conv min/max via
  window functions + ``sequence()`` + ``explode`` + left join — no Python.
  (Chosen over applyInPandas reindex: stays entirely JVM-side.)

Exactness-at-any-parallelism design (SURVEY.md §7.5.1): every stored moment
is integral (LONG) — counts, sums, min/max, and the sum-of-squares moment —
so aggregation order can never change a bit, as long as no sum overflows
(the precondition is stated at MOMENTS). Derived float stats (avg, stddev,
rates) are computed at read time from the integral moments.

MOMENTS defines each measure once; every rollup, merge, gap row and routed
aggregate in the engine derives its column list from it.

Retention-tier layout: TIERS maps tier name -> slot seconds. The 1m tier is
the graft's line cache (S5): materializing it IS the memoization.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window, functions as F

TIERS = {"1m": 60, "1h": 3600, "1d": 86400}


class Moment(NamedTuple):
    """One tier measure. Columns are built on call: F.col needs an active
    SparkContext, so the table cannot hold Column objects at import."""
    name: str
    #: value of one turn, over ingest.with_measures columns
    turn: Callable[[], Column]
    #: decomposable merge of child values: F.sum, F.min or F.max
    merge: Callable[[Column | str], Column]
    #: value on a gap-filled slot: 0 for counts, None (null) for stats
    gap: int | None
    #: aggregate over raw turns, when it is not merge(turn)
    agg: Callable[[], Column] | None = None


def _token_len() -> Column:
    return F.col("token_len")


#: The cascade contract (A7): nine integral, decomposable moments.
#:
#: Overflow precondition: spark.sql.ansi.enabled is off (conf.py), so a LONG
#: sum wraps silently. token_len = length(text) is unbounded, so the binding
#: moment is token_len_sumsq: Σ token_len² over every aggregated group must
#: stay below 2^63. The largest groups are a 1d slot, and a whole routed
#: range per conv (operators/routing.py).
MOMENTS = (
    # count(1), not sum(1): the column is non-nullable, so tier_1m stores it
    # as a REQUIRED parquet column, and the plan keeps its partial_count
    Moment("turn_count", lambda: F.lit(1).cast("long"), F.sum, 0,
           agg=lambda: F.count(F.lit(1))),
    Moment("token_len_sum", _token_len, F.sum, None),
    Moment("token_len_min", _token_len, F.min, None),
    Moment("token_len_max", _token_len, F.max, None),
    Moment("token_len_sumsq", lambda: _token_len() * _token_len(), F.sum, None),
    Moment("tool_call_count", lambda: F.col("is_tool_call").cast("long"), F.sum, 0),
    Moment("role_user_count", lambda: (F.col("role") == "user").cast("long"), F.sum, 0),
    Moment("role_assistant_count",
           lambda: (F.col("role") == "assistant").cast("long"), F.sum, 0),
    Moment("role_other_count",
           lambda: (~F.col("role").isin("user", "assistant")).cast("long"), F.sum, 0),
)

MEASURES = [m.name for m in MOMENTS]

#: Exact identities between one slot's moments, in int64 with wraparound
#: like the sums themselves. The chunk codec (operators/codec.py) leaves out
#: the values they give.
#: Every slot: role_other_count = turn_count - role_user_count - role_assistant_count.
ROLE_SPLIT = ("role_other_count", "turn_count", "role_user_count", "role_assistant_count")
#: A 1-turn slot: min = max = sum, sumsq = sum²; a 2-turn slot: max = sum - min,
#: sumsq = min² + max² (listed as turn_count, then sum, min, max, sumsq).
SMALL_SLOT = ("turn_count", "token_len_sum", "token_len_min", "token_len_max",
              "token_len_sumsq")


def turn_moments() -> list[Column]:
    """Each moment's value for one turn (a select list over measures)."""
    return [m.turn().alias(m.name) for m in MOMENTS]


def turn_aggs() -> list[Column]:
    """Raw turns -> moments (an agg list)."""
    return [(m.agg() if m.agg else m.merge(m.turn())).alias(m.name) for m in MOMENTS]


def merge_aggs() -> list[Column]:
    """Moment rows -> their merged moments (an agg list)."""
    return [m.merge(m.name).alias(m.name) for m in MOMENTS]


def merged_gap_filled() -> Column:
    """A merged slot is real if any child is real."""
    return (F.sum((~F.col("gap_filled")).cast("int")) == 0).alias("gap_filled")


def _slot(col, seconds: int):
    """Tumbling-window start: epoch-truncated timestamp. Equivalent to
    F.window(ts, ...).start but joinable/sequenceable as a plain column."""
    return F.timestamp_seconds(
        (F.unix_timestamp(col).cast("long") / seconds).cast("long") * seconds
    )


def rollup_from_turns(measures: DataFrame, tier: str = "1m") -> DataFrame:
    """A6: raw per-turn measures -> one row per (conv_id, slot).

    Input: output of ingest.with_measures. One shuffle (hash agg on
    composite key); partial aggregation halves shuffle volume for free.
    """
    sec = TIERS[tier]
    return (
        measures
        .groupBy("conv_id", _slot(F.col("ts"), sec).alias("window_start"))
        .agg(*turn_aggs())
        .withColumn("gap_filled", F.lit(False))
    )


def rollup_from_turns_salted(measures: DataFrame, tier: str = "1m",
                             n_salts: int = 16) -> DataFrame:
    """A6 with EXPLICIT skew salting (SURVEY.md §4 partitioning row; the
    graft replacement for distribute_jobs' interleaving).

    Spark's hash agg already partial-aggregates map-side, which handles
    most skew; the explicit salt matters when ONE (conv, window) key is hot
    — a mega-conversation rolled into a coarse tier (1d) can put millions
    of turns behind a single reduce key. Phase 1 groups by (key, salt) —
    salt from turn_idx, so placement is deterministic — phase 2 merges the
    ≤ n_salts partials per key. All moments are decomposable, so the result
    is bit-identical to the unsalted rollup (tested)."""
    sec = TIERS[tier]
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(n_salts))
    partial = (
        measures
        .groupBy("conv_id", _slot(F.col("ts"), sec).alias("window_start"),
                 salt.alias("_salt"))
        .agg(*turn_aggs())
    )
    return (
        partial.groupBy("conv_id", "window_start")
        .agg(*merge_aggs())
        .withColumn("gap_filled", F.lit(False))
    )


def rollup_from_turns_adaptive(
    measures: DataFrame,
    tier: str = "1m",
    n_salts: int = 16,
    hot_threshold: int = 1_000_000,
    sample_fraction: float = 0.001,
) -> DataFrame:
    """A6 with SELECTIVE salting: salt only detected hot keys.

    The skew bench (BENCH/SKEW.md) shows the trade the always-salted
    variant makes: with 10% of all turns behind one (conv, slot) key it
    bounds the straggler (max task 44.8s -> 21.6s) but every COLD key pays
    the two-phase tax (hotkey-variant wall 48 -> 63s). This variant takes
    both ends: a ~0.1% sample finds keys whose estimated row count exceeds
    ``hot_threshold`` (a key with h rows appears ~h*fraction times in the
    sample; the cutoff is half that, so detection is robust for
    h >= hot_threshold at fraction >= 2000/hot_threshold), the small hot
    set is broadcast, hot rows take the two-phase (key, salt) path and
    cold rows the plain single-phase path, unioned after. Cold keys thus
    shuffle exactly once as before, and no single reduce key carries more
    than ~1/n_salts of a hot key's rows.

    Output VALUES are bit-identical to rollup_from_turns for any detection
    outcome (all moments decomposable — same argument as the salted
    variant); only the physical plan adapts. The sample is seeded but
    partition-layout-dependent, so WHICH keys get salted may vary across
    cluster sizes — the result never does (tested).
    """
    sec = TIERS[tier]
    keyed = measures.withColumn("_ws", _slot(F.col("ts"), sec))
    cutoff = max(2, int(hot_threshold * sample_fraction / 2))
    hot = (
        keyed.sample(fraction=sample_fraction, seed=42)
        .groupBy("conv_id", "_ws")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= cutoff)
        .select("conv_id", "_ws", F.lit(True).alias("_hot"))
    )
    flagged = keyed.join(F.broadcast(hot), ["conv_id", "_ws"], "left")
    cold = (
        flagged.filter(F.col("_hot").isNull())
        .drop("_hot", "_ws")
        .transform(lambda df: rollup_from_turns(df, tier))
    )
    hot_rows = flagged.filter(F.col("_hot").isNotNull()).drop("_hot", "_ws")
    hot_rolled = rollup_from_turns_salted(hot_rows, tier, n_salts=n_salts)
    return cold.unionByName(hot_rolled)


def gapfill(rollup: DataFrame, tier: str = "1m") -> DataFrame:
    """W8: densify each conv's [min_slot, max_slot] span.

    Gap rows are the HOLES between consecutive real slots, found with one
    lag() window over the sparse tier and emitted by sequence+explode, then
    UNION ALL'd back. Decisive property at scale: the only exchange is the
    window's shuffle of the SPARSE rows (~1/8 of the dense output at bench
    skew); the dense gap rows are generated after the shuffle and flow
    straight into the sink / consumer without ever being exchanged. (An
    earlier grid+left-join formulation shuffled AND sorted the full dense
    tier — 8x more exchange volume, and SMJ sorted 300M rows at sf0.1.)

    Span endpoints are real slots by construction, so hole-filling equals
    grid-filling over [min, max] exactly.
    """
    sec = TIERS[tier]
    w = Window.partitionBy("conv_id").orderBy("window_start")
    base = rollup.withColumn("_prev", F.lag("window_start").over(w))
    step = F.expr(f"INTERVAL {sec} SECONDS")
    gaps = (
        base
        .where(F.col("_prev").isNotNull()
               & (F.unix_timestamp("window_start") - F.unix_timestamp("_prev") > sec))
        .select(
            "conv_id",
            F.explode(F.sequence(F.col("_prev") + step,
                                 F.col("window_start") - step, step)).alias("window_start"),
            *[F.lit(m.gap).cast("long").alias(m.name) for m in MOMENTS],
            F.lit(True).alias("gap_filled"),
        )
    )
    return base.drop("_prev").select("conv_id", "window_start", *MEASURES, "gap_filled") \
        .unionByName(gaps)


def rollup_gapfilled(measures: DataFrame, tier: str = "1m") -> DataFrame:
    return gapfill(rollup_from_turns(measures, tier), tier)


def with_derived_stats(rollup: DataFrame) -> DataFrame:
    """Read-time float stats from integral moments (never stored —
    FIXTURES.md §2.1): avg, tool_rate, stddev (population, via
    n*sumsq - sum^2)."""
    n = F.col("turn_count")
    s = F.col("token_len_sum")
    ss = F.col("token_len_sumsq")
    return (
        rollup
        .withColumn("token_len_avg", F.when(n > 0, s.cast("double") / n))
        .withColumn("tool_call_rate", F.when(n > 0, F.col("tool_call_count").cast("double") / n))
        .withColumn(
            "token_len_std",
            F.when(n > 1, F.sqrt(F.greatest((ss * n - s * s).cast("double"), F.lit(0.0)) / (n * n))),
        )
    )
