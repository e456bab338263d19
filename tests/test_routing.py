"""Tier-routing view selection (operators/routing.py): the split is a
disjoint aligned cover, routed answers bit-equal the fine-tier/raw
aggregation, and the coarse path actually reads fewer rows."""

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from yatsm_spark.ingest import with_measures
from yatsm_spark.operators.cascade import cascade
from yatsm_spark.operators.rollup import MEASURES, TIERS, rollup_from_turns
from yatsm_spark.operators.routing import route_plan, route_range
from yatsm_spark.synth import generate_transcripts

UTC = dt.timezone.utc


def _cover_is_exact(qs, qe, slices, remainders, wm=None):
    segs = sorted([(a, b) for _, a, b in slices] + remainders)
    assert segs[0][0] == qs and segs[-1][1] == qe
    for (a0, b0), (a1, b1) in zip(segs, segs[1:]):
        assert b0 == a1, f"gap/overlap at {b0} vs {a1}"
    for name, a, b in slices:
        sec = TIERS[name]
        assert a % sec == 0 and b % sec == 0 and a < b
        if wm is not None:
            assert b <= (wm // sec) * sec


@given(st.integers(0, 5000), st.integers(1, 5000), st.integers(0, 5000) | st.none())
@settings(max_examples=300, deadline=None)
def test_route_plan_property(lo_m, span_m, wm_m):
    """For any 1m-aligned range and watermark: disjoint exact cover,
    aligned slices, watermark respected, coarsest-first maximality
    (no two adjacent same-tier slices that could have merged)."""
    qs, qe = lo_m * 60, (lo_m + span_m) * 60
    wm = None if wm_m is None else wm_m * 60
    slices, rem = route_plan(qs, qe, watermark=wm)
    _cover_is_exact(qs, qe, slices, rem, wm)
    # remainders exist only past the watermark cap
    for a, b in rem:
        assert wm is not None and b > (wm // 60) * 60


def test_route_plan_shape_multiday():
    """A 15-day mid-hour-to-mid-hour range routes to 1 core 1d slice,
    edge 1h slices, edge 1m slices — and slot counts are tiny."""
    qs = int(dt.datetime(2025, 1, 5, 0, 30, tzinfo=UTC).timestamp())
    qe = int(dt.datetime(2025, 1, 21, 2, 3, tzinfo=UTC).timestamp())
    slices, rem = route_plan(qs, qe)
    assert rem == []
    by = {}
    for name, a, b in slices:
        by.setdefault(name, 0)
        by[name] += (b - a) // TIERS[name]
    assert by["1d"] == 15 and by["1h"] == 23 + 2 and by["1m"] == 30 + 3
    # vs 1m-only: 16*1440 + ... slots
    assert sum(by.values()) < ((qe - qs) // 60) / 100


def test_route_range_bit_equals_raw_and_reads_fewer_rows(spark):
    tx = generate_transcripts(spark, 50, seed=7, max_turns=2500).cache()
    m = with_measures(tx)
    wm = dt.datetime(2025, 1, 20, 0, 0, tzinfo=UTC)
    t1m = rollup_from_turns(m.where(F.col("ts") < F.lit("2025-01-20")), "1m").cache()
    tiers = {"1m": t1m, "1h": cascade(t1m, "1m", "1h").cache(),
             "1d": cascade(t1m, "1m", "1d").cache()}
    qs = dt.datetime(2025, 1, 2, 0, 30, tzinfo=UTC)
    qe = dt.datetime(2025, 1, 22, 2, 3, tzinfo=UTC)
    got = route_range(tiers, qs, qe, fresh_measures=m, watermark=wm) \
        .toPandas().set_index("conv_id").sort_index()

    # oracle: aggregate raw turns directly over the range
    want = (m.where((F.col("ts") >= F.lit(qs.replace(tzinfo=None)))
                    & (F.col("ts") < F.lit(qe.replace(tzinfo=None))))
            .transform(lambda d: d)
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("turn_count"),
                 F.sum("token_len").alias("token_len_sum"),
                 F.min("token_len").alias("token_len_min"),
                 F.max("token_len").alias("token_len_max"),
                 F.sum(F.col("token_len") * F.col("token_len")).alias("token_len_sumsq"),
                 F.sum("is_tool_call").alias("tool_call_count"),
                 F.sum((F.col("role") == "user").cast("long")).alias("role_user_count"),
                 F.sum((F.col("role") == "assistant").cast("long")).alias("role_assistant_count"),
                 F.sum((~F.col("role").isin("user", "assistant")).cast("long")).alias("role_other_count"))
            .toPandas().set_index("conv_id").sort_index())
    assert list(got.index) == list(want.index)
    for c in MEASURES:
        assert (got[c].astype("Int64") == want[c].astype("Int64")).all(), c

    # fewer-rows audit: the routed tier scans together read far fewer
    # rows than the 1m tier holds for the same range
    slices, _ = route_plan(qs, qe, watermark=wm)
    routed_rows = sum(
        tiers[n].where((F.col("window_start") >= F.timestamp_seconds(F.lit(a)))
                       & (F.col("window_start") < F.timestamp_seconds(F.lit(b))))
        .count() for n, a, b in slices)
    fine_rows = t1m.where(
        (F.col("window_start") >= F.lit(qs.replace(tzinfo=None)))
        & (F.col("window_start") < F.lit(wm.replace(tzinfo=None)))).count()
    assert routed_rows < fine_rows / 5
    tx.unpersist()


def test_route_range_raises_without_fresh_tail(spark):
    t1m = spark.createDataFrame(
        [("c1", dt.datetime(2025, 1, 1), 1, 5, 5, 5, 25, 0, 1, 0, 0)],
        "conv_id string, window_start timestamp, turn_count long, "
        "token_len_sum long, token_len_min long, token_len_max long, "
        "token_len_sumsq long, tool_call_count long, role_user_count long, "
        "role_assistant_count long, role_other_count long")
    with pytest.raises(ValueError, match="not covered"):
        route_range({"1m": t1m}, "2025-01-01 00:00:00",
                    "2025-01-02 00:00:00", watermark="2025-01-01 12:00:00")


def test_route_plan_rejects_empty_and_subsecond():
    with pytest.raises(ValueError, match="empty"):
        route_plan("2025-01-02 00:00:00", "2025-01-01 00:00:00")
    with pytest.raises(ValueError, match="sub-second"):
        route_plan("2025-01-01 00:00:00.5", "2025-01-02 00:00:00")


def test_route_range_serves_evicted_history_from_chunks(spark):
    """After chunk-encode + fine-row eviction, routing falls through to
    Gorilla decode for the evicted 1m edges; the compressed-but-live
    overlap window must not double-count (anti-join dedup)."""
    from yatsm_spark.operators.codec import encode_chunks

    tx = generate_transcripts(spark, 40, seed=13, max_turns=2000).cache()
    m = with_measures(tx)
    wm = dt.datetime(2025, 1, 20, 0, 0, tzinfo=UTC)
    t1m = rollup_from_turns(m.where(F.col("ts") < "2025-01-20"), "1m").cache()
    chunks = encode_chunks(t1m, "1m").cache()
    chunks.count()
    # evict fine rows older than Jan 15 — they now exist ONLY in chunks;
    # [Jan 15, Jan 20) is double-covered (live + compressed)
    live_1m = t1m.where(F.col("window_start") >= "2025-01-15")
    tiers = {"1m": live_1m, "1h": cascade(t1m, "1m", "1h"),
             "1d": cascade(t1m, "1m", "1d")}
    qs = dt.datetime(2025, 1, 5, 0, 30, tzinfo=UTC)
    qe = dt.datetime(2025, 1, 22, 2, 3, tzinfo=UTC)
    got = route_range(tiers, qs, qe, fresh_measures=m, watermark=wm,
                      chunks=chunks) \
        .toPandas().set_index("conv_id").sort_index()
    want = (m.where((F.col("ts") >= F.lit(qs.replace(tzinfo=None)))
                    & (F.col("ts") < F.lit(qe.replace(tzinfo=None))))
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("turn_count"),
                 F.sum("token_len").alias("token_len_sum"),
                 F.min("token_len").alias("token_len_min"),
                 F.max("token_len").alias("token_len_max"),
                 F.sum(F.col("token_len") * F.col("token_len")).alias("token_len_sumsq"))
            .toPandas().set_index("conv_id").sort_index())
    assert list(got.index) == list(want.index)
    for c in ("turn_count", "token_len_sum", "token_len_min",
              "token_len_max", "token_len_sumsq"):
        assert (got[c].astype("Int64") == want[c].astype("Int64")).all(), c
    tx.unpersist(); t1m.unpersist(); chunks.unpersist()


def test_route_range_chunk_prune_admits_every_chunk_a_slice_needs(spark):
    """A conv of 10,000 one-turn minutes in CHUNK_POINTS chunks (starting
    at minutes 0, 4096 and 8192) with its 1m rows before minute 9,000
    evicted: each range, inside one chunk or across a chunk boundary and
    the eviction cutoff, counts exactly its minutes."""
    from yatsm_spark.operators.codec import encode_chunks

    base = 1_735_689_600
    ones = {m: 1 for m in MEASURES} | {"role_assistant_count": 0,
                                       "role_other_count": 0, "tool_call_count": 0}
    t1m = spark.range(10_000).select(
        F.lit("c").alias("conv_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 60).alias("window_start"),
        *(F.lit(ones[m]).cast("long").alias(m) for m in MEASURES),
        F.lit(False).alias("gap_filled")).cache()
    chunks = encode_chunks(t1m, "1m").cache()
    assert sorted(r.n_points for r in chunks.collect()) == [1808, 4096, 4096]
    live = {"1m": t1m.where(F.col("window_start")
                            >= F.timestamp_seconds(F.lit(base + 9000 * 60)))}
    for lo, hi in ((6030, 6300), (4000, 4200), (4095, 4100), (4096, 4100), (8000, 9100)):
        got = route_range(live, base + lo * 60, base + hi * 60, chunks=chunks).collect()
        assert [(r.conv_id, r.turn_count) for r in got] == [("c", hi - lo)], (lo, hi)
