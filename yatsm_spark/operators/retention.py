"""Retention-tier eviction driven by cascade high-watermarks.

Graft addition (SURVEY.md §2.11 "Retention eviction"): once a coarser
window is finalized AND its fine rows are compressed into chunks, fine rows
older than the tier TTL may be deleted. The invariant (SURVEY.md §7.5.6):
eviction must never delete a fine row whose coarse parent isn't finalized —
enforced here by intersecting the TTL cutoff with the per-conv
high-watermark before filtering.

With Iceberg this is `DELETE FROM tier WHERE ...` (partition-level delete);
on the parquet backend we rewrite the tier minus evicted rows — same
semantics, different mechanics, both behind evict().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from yatsm_spark.operators.cascade import high_watermark


def evictable(fine: DataFrame, from_tier: str, to_tier: str, ttl_seconds: int) -> DataFrame:
    """Rows of `fine` that are BOTH older than ttl (vs the conv's own max
    slot — convs are independent series, so age is per-conv, mirroring the
    reference's per-pixel independence) AND at/below the finalized coarse
    watermark."""
    wm = high_watermark(fine, to_tier)
    aged = (
        fine.join(wm, "conv_id")
        .withColumn(
            "age_s",
            F.unix_timestamp(F.max("window_start").over(Window.partitionBy("conv_id")))
            - F.unix_timestamp("window_start"),
        )
    )
    return (
        aged.filter((F.col("age_s") > ttl_seconds) & (F.col("window_start") <= F.col("watermark")))
        .drop("watermark", "age_s")
    )


def evict(fine: DataFrame, from_tier: str, to_tier: str, ttl_seconds: int) -> DataFrame:
    """Return the retained frame (fine minus evictable). The caller
    overwrites the tier table with this result (parquet backend) or issues
    the equivalent DELETE (Iceberg)."""
    ev = evictable(fine, from_tier, to_tier, ttl_seconds).select("conv_id", "window_start")
    return fine.join(ev, ["conv_id", "window_start"], "left_anti")
