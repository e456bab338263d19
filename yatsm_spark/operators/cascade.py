"""Continuous-aggregate cascade (A7): 1m -> 1h -> 1d from partial aggregates.

Parity anchor: A7 (SURVEY.md §2.4) — the graft analogue of the reference's
map-assembly from per-row records (yatsm/cli/map.py reads records, never
raw imagery [M]): each coarser tier is computed from the finer tier's
moments, NEVER from raw turns:

    sum of counts, sum of sums, sum of sumsq, min of mins, max of maxes

All moments are LONG (see operators/rollup.py), so cascade output is
bit-identical to a direct rollup from raw at the same tier — the
tier-consistency invariant (FIXTURES.md §2.1) tested in
tests/test_rollup_spark.py and enforced at bench time across parallelism
levels.

Null semantics: a coarse slot whose children are all gap-filled gets
turn_count 0 and null token stats (Spark's sum/min/max ignore nulls and
return null for all-null groups) — exactly the gap-fill row shape.

high_watermark: the retention driver (operators/retention.py) may only
evict fine rows whose parent window is final — i.e. strictly older than the
source's max complete coarse slot.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from yatsm_spark.operators.rollup import (
    MEASURES,
    TIERS,
    _slot,
    gapfill,
    merge_aggs,
    merged_gap_filled,
    rollup_from_turns,
)


def cascade(fine: DataFrame, from_tier: str, to_tier: str) -> DataFrame:
    """Re-aggregate a (possibly gap-filled) fine tier to a coarser tier.

    One shuffle on (conv_id, coarse_slot). Because the fine tier is already
    conv-keyed and ~60x smaller than raw turns, this is the cheap path — at
    100 TB the 1h/1d tiers cost ~1/60 and ~1/1440 of the 1m build.
    """
    if TIERS[to_tier] % TIERS[from_tier] != 0:
        raise ValueError(f"{to_tier} is not a multiple of {from_tier}")
    sec = TIERS[to_tier]
    return (
        fine
        .groupBy("conv_id", _slot(F.col("window_start"), sec).alias("window_start"))
        .agg(*merge_aggs(), merged_gap_filled())
    )


def merge_rollups(tier: DataFrame, delta: DataFrame,
                  tier_name: str | None = None) -> DataFrame:
    """Late-arrival delta merge (continuous-aggregate incremental
    maintenance): combine an existing tier with a rollup of LATE turns at
    the same tier, without touching raw history.

    This is the batch-side answer to stragglers that arrive after a tier
    point was finalized (the streaming side drops them —
    streaming/stream_rollup.py late-data contract): roll up ONLY the late
    turns, then merge. union + one hash agg on the tier key; every moment
    is decomposable, so ``merge(rollup(base), rollup(late))`` is
    bit-identical to ``rollup(base ∪ late)`` (tested, and oracle-checked
    as ``tx_reconcile_merge``). At 10^12-turn scale the delta is tiny
    relative to the tier, and only touched (conv, slot) keys change —
    exactly the TimescaleDB-style continuous-aggregate refresh shape.

    Accepts sparse or gap-filled inputs; a gap row merged with a real
    delta row becomes real (counts add; sum/min/max ignore the gap row's
    null stats).

    Dense-span invariant (round-3 ADVICE): a late delta row OUTSIDE the
    conv's existing [min, max] span extends the span, so a gap-filled
    input is only dense again after re-gapfilling. Pass ``tier_name``
    (e.g. "1m") to re-densify the merged result in-place — existing
    ``gap_filled`` flags are preserved and only the NEW holes are
    emitted, so the extra cost is the sparse-row window, not a dense
    rebuild. Without ``tier_name`` the merged output of a gap-filled
    input MAY VIOLATE the dense-span invariant and must be re-gapfilled
    before density-assuming consumers (cascade / change_scores on
    'filled' input)."""
    has_gap = "gap_filled" in tier.columns
    if has_gap and "gap_filled" not in delta.columns:
        delta = delta.withColumn("gap_filled", F.lit(False))
    cols = ["conv_id", "window_start", *MEASURES] + (["gap_filled"] if has_gap else [])
    merged = (
        tier.select(*cols).unionByName(delta.select(*cols))
        .groupBy("conv_id", "window_start")
        .agg(*merge_aggs(), *([merged_gap_filled()] if has_gap else []))
    )
    if has_gap and tier_name is not None:
        # gapfill preserves an existing gap_filled column on real rows and
        # only emits rows for holes between consecutive present slots, so
        # re-densifying after a span-extending merge is incremental.
        return gapfill(merged, tier_name)
    return merged


def high_watermark(fine: DataFrame, to_tier: str):
    """Largest coarse slot that is COMPLETE in `fine` (its successor slot
    has begun), per conv. Rows at/below this slot are safe to compress and,
    once compressed, to evict from the finer tier."""
    sec = TIERS[to_tier]
    return (
        fine.groupBy("conv_id")
        .agg(F.max("window_start").alias("max_ws"))
        .select(
            "conv_id",
            (_slot(F.col("max_ws"), sec) - F.expr(f"INTERVAL {sec} SECONDS")).alias("watermark"),
        )
    )


def realtime_view(tier: DataFrame, fresh_measures: DataFrame,
                  tier_name: str, watermark) -> DataFrame:
    """Real-time continuous-aggregate serve path (the TimescaleDB
    real-time view): the MATERIALIZED tier for slots strictly before a
    slot-aligned ``watermark`` UNION'd with an on-the-fly rollup of the
    raw turns at/after it. The split is EXACT, not approximate: a turn
    at ts lands in slot floor(ts/sec), and for a slot-aligned watermark
    `slot < wm  <=>  ts < wm`, so the union equals the full rollup of
    all raw history bit-for-bit (the oracle IS the plain rollup SQL —
    the strongest possible serve-path invariant). The reader pays one
    rollup over only the fresh tail; the tier's history is never
    rescanned.

    Raises when the watermark is not aligned to the tier's slot width —
    a misaligned split would double-count the boundary slot."""
    sec = TIERS[tier_name]
    wm = F.lit(watermark).cast("timestamp")
    # alignment check, driver-side (watermark is a scalar)
    if int(pd.Timestamp(watermark).value // 1_000) % (sec * 1_000_000):
        raise ValueError(
            f"realtime_view: watermark {watermark!r} is not aligned to "
            f"the {tier_name} slot width ({sec}s)")
    mat = tier.where(F.col("window_start") < wm) \
              .select("conv_id", "window_start", *MEASURES)
    fresh = rollup_from_turns(
        fresh_measures.where(F.col("ts") >= wm), tier_name) \
        .select("conv_id", "window_start", *MEASURES)
    return mat.unionByName(fresh)
