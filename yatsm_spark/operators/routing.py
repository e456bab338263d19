"""Tier-routing view selection: answer a (conv, range, agg) request from
the COARSEST retention tier that can serve each sub-range, falling back
through 1d -> 1h -> 1m -> raw tail (the realtime_view fresh path).

This is the serve-side twin of the continuous-aggregate cascade
(operators/cascade.py): the cascade maintains 1m/1h/1d tiers of
decomposable LONG moments; routing exploits exactly that decomposability
to answer an arbitrary slot-aligned range with the minimum number of
stored rows. The same idea TimescaleDB's real-time continuous aggregates
and Druid's query-granularity rollups serve with — recast as a pure
Catalyst plan: each tier slice is a range predicate on `window_start`,
and the whole request is ONE union + ONE hash aggregate on conv_id.

The predicate reaches parquet's `window_start` min/max statistics and
column indexes, but those skip data only where a file, row group or page
covers a narrow time range. The pipeline's bucket tables are not laid out
that way: one row group per file, rows in conv order, so every file spans
the whole time range and few pages can be skipped. On that layout a slice
reads nearly its whole tier: on perfbench seed 1, a 149-row 1 h range and
a 3,433-row 1 d range over `tier_1m` each read all 58,412 rows (the
scan's output rows). Pruning needs time-clustered files or row groups (or
a window_start-partitioned table).

Why it matters at 100 TB: a 30-day dashboard query against a 1m tier
aggregates ~43,200 slots per conv; routed, it aggregates ~30 rows of the
1d tier plus <=2*23 hour rows and <=2*59 minute rows at the ragged edges —
three orders of magnitude fewer rows (and bytes read, on a layout that
prunes), with BIT-IDENTICAL results
(moments are exact longs; the tx_route oracle is the raw-turn
aggregation itself).

Parity anchor: SURVEY.md §2.4 A7 / §4 (tier-routing was §4's one
deferred serve-path nicety; the map-assembly analogue is yatsm's
cli/map.py reading records, never raw imagery [M]).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from yatsm_spark.operators.codec import CHUNK_POINTS, decode_chunks
from yatsm_spark.operators.rollup import MEASURES, TIERS, merge_aggs, turn_moments


def _epoch(ts) -> int:
    """Driver-side scalar -> epoch seconds (UTC, microsecond-guarded)."""
    if isinstance(ts, (int, float)):
        v = float(ts)
    else:
        if isinstance(ts, str):
            ts = dt.datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=dt.timezone.utc)
        v = ts.timestamp()
    if v != int(v):
        raise ValueError(f"route_range: sub-second boundary {ts!r}")
    return int(v)


def _ceil(x: int, sec: int) -> int:
    return -(-x // sec) * sec


def _floor(x: int, sec: int) -> int:
    return (x // sec) * sec


def route_plan(qs, qe, tiers=("1m", "1h", "1d"), watermark=None):
    """The routing decision, driver-side and deterministic: split
    [qs, qe) into per-tier slot-aligned slices plus raw-tail remainders.

    Returns (slices, remainders):
      slices:     [(tier_name, lo_epoch, hi_epoch)] — [lo, hi) is aligned
                  to the tier's slot width and (when a watermark is set)
                  ends at or before floor(watermark, tier) so only
                  COMPLETE materialized slots are used;
      remainders: [(lo_epoch, hi_epoch)] — ranges no tier can serve
                  (the fresh tail past the watermark, or sub-1m edges),
                  to be answered from raw turns.

    Greedy coarsest-first: the coarsest tier takes the maximal aligned
    core of the range, recursing on the two ragged edges with the
    finer tiers — each boundary contributes at most (coarse/fine - 1)
    rows per finer tier, so the total routed row count is
    O(range/86400 + 24 + 60) per conv instead of O(range/60).
    """
    lo, hi = _epoch(qs), _epoch(qe)
    if lo >= hi:
        raise ValueError(f"route_range: empty range [{qs!r}, {qe!r})")
    wm = None if watermark is None else _epoch(watermark)
    desc = sorted(tiers, key=lambda t: TIERS[t], reverse=True)

    slices: list[tuple[str, int, int]] = []
    remainders: list[tuple[int, int]] = []

    def cover(lo: int, hi: int, idx: int) -> None:
        if lo >= hi:
            return
        if idx == len(desc):
            remainders.append((lo, hi))
            return
        name, sec = desc[idx], TIERS[desc[idx]]
        a = _ceil(lo, sec)
        b = _floor(hi, sec)
        if wm is not None:
            b = min(b, _floor(wm, sec))
        if a >= b:
            cover(lo, hi, idx + 1)
            return
        slices.append((name, a, b))
        cover(lo, a, idx + 1)
        cover(b, hi, idx + 1)

    cover(lo, hi, 0)
    slices.sort(key=lambda s: s[1])
    remainders.sort()
    return slices, remainders


def route_range(tiers: dict[str, DataFrame], qs, qe,
                fresh_measures: DataFrame | None = None,
                watermark=None,
                chunks: DataFrame | None = None) -> DataFrame:
    """Per-conv aggregate of every measure over [qs, qe), served from the
    coarsest tiers that cover it (route_plan) with raw-turn fallback for
    the fresh tail. BIT-IDENTICAL to aggregating the 1m tier (or the raw
    turns) over the same range — moments are decomposable exact longs.

    tiers: {"1m": df, "1h": df, "1d": df} (any subset; sparse or
    gap-filled — gap rows carry zero counts and null stats, which the
    aggregate ignores). With ``watermark``, tiers are trusted only for
    COMPLETE slots strictly before it (the materialized-table contract of
    realtime_view) and ``fresh_measures`` (ingest.with_measures output)
    serves the tail; without fresh_measures, an uncoverable remainder
    raises instead of silently under-counting.

    With ``chunks`` (the Gorilla chunk table from
    operators/codec.py::encode_chunks), 1m slices ALSO serve from its 1m
    chunks: live tier rows win, and decoded chunk rows fill slots the
    retention driver has already evicted — the complete retention story
    (compress → evict fine rows → queries transparently fall through to
    the chunks). The decode side is range-pruned BEFORE decoding via
    ``chunk_start`` predicates (sound because a chunk is a run of at most
    ``codec.CHUNK_POINTS`` consecutive slots: one holding a slot of the
    slice [a, b) starts in [a - CHUNK_POINTS slots, b) and ends after a),
    decoded with a zero-shuffle mapInPandas, and deduped against live rows
    with an anti-join on (conv_id, window_start) — so a compressed-but-
    not-yet-evicted overlap window never double-counts.

    Plan shape: k range-filtered tier scans (the filters reach parquet's
    statistics, which prune only on time-clustered files; see the module
    docstring) + optionally one raw scan and one range-pruned
    chunk decode, ONE unionByName, ONE hash aggregate on conv_id — a
    single shuffle regardless of how many tiers serve (plus the
    anti-join exchange on the chunk path, both sides range-pruned).
    """
    slices, remainders = route_plan(
        qs, qe, tiers=tuple(tiers), watermark=watermark)
    if remainders and fresh_measures is None:
        rs = [(str(dt.datetime.fromtimestamp(a, dt.timezone.utc)),
               str(dt.datetime.fromtimestamp(b, dt.timezone.utc)))
              for a, b in remainders]
        raise ValueError(
            f"route_range: ranges {rs} not covered by any tier "
            "(fresh tail past the watermark or sub-slot edges); pass "
            "fresh_measures to serve them from raw turns")

    parts: list[DataFrame] = []
    for name, a, b in slices:
        t = tiers[name]
        rng = ((F.col("window_start") >= F.timestamp_seconds(F.lit(a)))
               & (F.col("window_start") < F.timestamp_seconds(F.lit(b))))
        live = t.where(rng)
        if chunks is not None and name == "1m":
            step = TIERS[name]
            pruned = chunks.where(
                (F.col("tier") == name)
                & (F.col("chunk_start") >= F.timestamp_seconds(F.lit(a - CHUNK_POINTS * step)))
                & (F.col("chunk_start") < F.timestamp_seconds(F.lit(b)))
                & (F.unix_seconds("chunk_start") + F.col("n_points") * step > a))
            dec = (decode_chunks(pruned)
                   .where(rng & ~F.col("gap_filled"))
                   .join(live.select("conv_id", "window_start"),
                         ["conv_id", "window_start"], "left_anti"))
            parts.append(dec.select("conv_id", *MEASURES))
        parts.append(live.select("conv_id", *MEASURES))
    for a, b in remainders:
        raw = fresh_measures.where(
            (F.col("ts") >= F.timestamp_seconds(F.lit(a)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(b))))
        parts.append(raw.select("conv_id", *turn_moments()))

    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (u.groupBy("conv_id").agg(*merge_aggs())
             .where(F.col("turn_count") > 0))
