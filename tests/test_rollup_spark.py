"""Distributed rollup/gapfill/cascade vs single-core oracles
(FIXTURES.md §3.5–3.6 and the tier-consistency invariant §2.1)."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from yatsm_spark.ingest import with_measures, text_fingerprint
from yatsm_spark.operators.cascade import cascade, high_watermark
from yatsm_spark.operators.retention import evict, evictable
from yatsm_spark.operators.rollup import (
    MEASURES,
    gapfill,
    rollup_from_turns,
    with_derived_stats,
)
from yatsm_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def tx(spark):
    df = generate_transcripts(spark, 60, seed=42, max_turns=3000).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def filled(spark, tx):
    f = gapfill(rollup_from_turns(with_measures(tx), "1m"), "1m").cache()
    f.count()
    return f


def test_rollup_matches_duckdb_oracle(spark, tx, filled):
    pdf = tx.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute("""
        SELECT conv_id,
               to_timestamp(floor(epoch(ts)/60)*60)::timestamp AS window_start,
               count(*)::long AS turn_count,
               sum(length(text))::long AS token_len_sum,
               min(length(text))::long AS token_len_min,
               max(length(text))::long AS token_len_max,
               sum(length(text)*length(text))::long AS token_len_sumsq,
               sum((tool IS NOT NULL)::int)::long AS tool_call_count
        FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """).df()
    got = (
        filled.filter("turn_count > 0")
        .select("conv_id", "window_start", "turn_count", "token_len_sum",
                "token_len_min", "token_len_max", "token_len_sumsq", "tool_call_count")
        .orderBy("conv_id", "window_start")
        .toPandas()
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_gapfill_matches_numpy_kernel(spark, filled):
    """Spark sequence+explode gap-fill == kernel.gapfill dense reindex."""
    from yatsm_spark.kernel.gapfill import gapfill_slots

    sample = filled.filter("conv_id = 'conv00000005'").orderBy("window_start").toPandas()
    sparse = sample[~sample["gap_filled"]]
    dense = gapfill_slots(
        sparse["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64),
        {"turn_count": sparse["turn_count"].to_numpy(np.int64)},
        step=60,
    )
    assert len(dense["slot_epoch"]) == len(sample)
    np.testing.assert_array_equal(
        dense["turn_count"], sample["turn_count"].to_numpy(np.int64)
    )
    np.testing.assert_array_equal(
        dense["gap_filled"], sample["gap_filled"].to_numpy()
    )


def test_gapfill_has_no_holes_and_no_dupes(spark, filled):
    bad = spark.sql("""
        WITH g AS (
          SELECT conv_id, window_start,
                 lag(window_start) OVER (PARTITION BY conv_id ORDER BY window_start) prev
          FROM {f}
        )
        SELECT count(*) AS n FROM g
        WHERE prev IS NOT NULL AND unix_timestamp(window_start) - unix_timestamp(prev) <> 60
    """, f=filled).collect()[0]["n"]
    assert bad == 0
    dupes = filled.groupBy("conv_id", "window_start").count().filter("count > 1").count()
    assert dupes == 0


@pytest.mark.parametrize("pair", [("1m", "1h"), ("1m", "1d")])
def test_cascade_equals_direct_rollup(spark, tx, filled, pair):
    """THE tier-consistency invariant: cascade from fine == rollup from raw,
    bit-exact (moments are integral, FIXTURES.md §2.1)."""
    src, dst = pair
    casc = cascade(filled, src, dst) if dst == "1h" else cascade(cascade(filled, "1m", "1h"), "1h", "1d")
    direct = rollup_from_turns(with_measures(tx), dst)
    cols = ["conv_id", "window_start", *MEASURES]
    a = casc.filter("turn_count > 0").select(*cols)
    b = direct.select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_derived_stats_match_duckdb(spark, tx):
    r = with_derived_stats(rollup_from_turns(with_measures(tx), "1h"))
    got = r.selectExpr(
        "conv_id", "window_start",
        "round(token_len_avg, 6) AS a", "round(token_len_std, 6) AS s"
    ).orderBy("conv_id", "window_start").toPandas()
    con = duckdb.connect()
    con.register("t", tx.toPandas())
    want = con.execute("""
        SELECT conv_id,
               to_timestamp(floor(epoch(ts)/3600)*3600)::timestamp AS window_start,
               round(avg(length(text)), 6) AS a,
               round(CASE WHEN count(*) > 1 THEN stddev_pop(length(text)) END, 6) AS s
        FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """).df()
    np.testing.assert_allclose(got["a"], want["a"], atol=1e-6)
    np.testing.assert_allclose(
        got["s"].astype(float), want["s"].astype(float), atol=1e-6, equal_nan=True
    )


def test_parallelism_invariance(tx):
    """local[2] vs local[8]-built rollups are identical — integral moments
    make aggregation order irrelevant (SURVEY.md §7.5.1)."""
    pdf_in = tx.toPandas()
    # Same session, different shuffle partitioning — exercises order variance.
    from yatsm_spark.conf import get_spark

    spark = get_spark(master="local[4]")
    a = (
        gapfill(rollup_from_turns(with_measures(spark.createDataFrame(pdf_in).repartition(2)), "1m"), "1m")
        .orderBy("conv_id", "window_start").toPandas()
    )
    b = (
        gapfill(rollup_from_turns(with_measures(spark.createDataFrame(pdf_in).repartition(37)), "1m"), "1m")
        .orderBy("conv_id", "window_start").toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_text_fingerprint_stable_and_sensitive(spark, tx):
    fp1 = text_fingerprint(tx)
    fp2 = text_fingerprint(tx.repartition(13))
    assert fp1 == fp2  # partitioning-independent
    from pyspark.sql import functions as F

    mutated = tx.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv00000007") & (F.col("turn_idx") == 0), "tampered"
        ).otherwise(F.col("text")),
    )
    assert text_fingerprint(mutated) != fp1


def test_retention_respects_watermark(spark, filled):
    ret = evict(filled, "1m", "1h", ttl_seconds=3600)
    ev = evictable(filled, "1m", "1h", ttl_seconds=3600)
    assert ret.count() + ev.count() == filled.count()
    # no evicted row may sit above its conv's finalized-1h watermark
    wm = high_watermark(filled, "1h")
    bad = ev.join(wm, "conv_id").filter("window_start > watermark").count()
    assert bad == 0


def test_salted_rollup_identical_to_unsalted(spark, tx):
    from yatsm_spark.operators.rollup import rollup_from_turns_salted

    m = with_measures(tx)
    for tier in ("1m", "1d"):
        a = rollup_from_turns(m, tier)
        b = rollup_from_turns_salted(m, tier, n_salts=8)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_adaptive_rollup_identical_to_unsalted(spark, tx):
    # Selective salting must be value-transparent for ANY detection
    # outcome; force both regimes by sweeping the threshold:
    # - aggressive (hot_threshold tiny, fat sample): most keys salted
    # - conservative (hot_threshold huge): nothing salted, pure cold path
    from yatsm_spark.operators.rollup import rollup_from_turns_adaptive

    m = with_measures(tx)
    a = rollup_from_turns(m, "1m")
    for thr, frac in ((4, 0.5), (10**9, 0.001)):
        b = rollup_from_turns_adaptive(m, "1m", n_salts=8,
                                       hot_threshold=thr, sample_fraction=frac)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_adaptive_rollup_detects_hot_keys(spark):
    # One conv crams 20k turns into one minute; with a fat sample and low
    # threshold the hot set must be non-empty and contain that key.
    from pyspark.sql import functions as F

    from yatsm_spark.operators.rollup import _slot

    n = 20_000
    hot = spark.range(0, n).select(
        F.lit("conv_hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1_735_689_600) + (F.col("id") % 59)).alias("ts"),
    )
    keyed = with_measures(hot).withColumn("_ws", _slot(F.col("ts"), 60))
    sample_hot = (
        keyed.sample(fraction=0.05, seed=42)
        .groupBy("conv_id", "_ws").agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= max(2, int(10_000 * 0.05 / 2)))
        .collect()
    )
    assert len(sample_hot) == 1 and sample_hot[0].conv_id == "conv_hot"


def test_merge_rollups_equals_direct(spark, tx):
    # merge(rollup(base), rollup(late)) == rollup(base ∪ late), including
    # late rows landing in previously gap-filled (all-null-stat) slots.
    from pyspark.sql import functions as F

    from yatsm_spark.operators.cascade import merge_rollups

    base = tx.filter(F.col("turn_idx") % 5 != 0)
    late = tx.filter(F.col("turn_idx") % 5 == 0)
    # sparse form
    direct = rollup_from_turns(with_measures(tx), "1m").drop("gap_filled")
    merged = merge_rollups(
        rollup_from_turns(with_measures(base), "1m").drop("gap_filled"),
        rollup_from_turns(with_measures(late), "1m").drop("gap_filled"))
    assert direct.exceptAll(merged).count() == 0
    assert merged.exceptAll(direct).count() == 0
    # gap-filled tier + sparse delta: gap rows hit by the delta become real
    tier_f = gapfill(rollup_from_turns(with_measures(base), "1m"), "1m")
    merged_f = merge_rollups(
        tier_f, rollup_from_turns(with_measures(late), "1m"))
    hit = merged_f.filter((F.col("turn_count") > 0) & ~F.col("gap_filled"))
    direct_sparse = rollup_from_turns(with_measures(tx), "1m").drop("gap_filled")
    # every real merged row must match the direct rollup exactly
    assert (hit.drop("gap_filled").exceptAll(direct_sparse).count() == 0)


def test_merge_rollups_redensifies_span_extension(spark, tx):
    # Round-3 ADVICE: a late delta row OUTSIDE the existing span extends it;
    # with tier_name passed, merge_rollups re-gapfills so the W8 dense-span
    # invariant holds for downstream density-assuming consumers.
    import pandas as pd
    from pyspark.sql import functions as F

    from yatsm_spark.operators.cascade import merge_rollups

    conv = tx.select("conv_id").first().conv_id
    one = tx.filter(F.col("conv_id") == conv)
    tier_f = gapfill(rollup_from_turns(with_measures(one), "1m"), "1m")
    span_max = tier_f.agg(F.max("window_start")).first()[0]
    # a late turn 5 minutes past the current span end
    late = one.limit(1).withColumn(
        "ts", F.lit(pd.Timestamp(span_max) + pd.Timedelta(minutes=5)))
    delta = rollup_from_turns(with_measures(late), "1m")

    stale = merge_rollups(tier_f, delta)                     # no re-densify
    dense = merge_rollups(tier_f, delta, tier_name="1m")     # re-densified

    def holes(df):
        n = df.count()
        span = df.agg(
            (F.unix_timestamp(F.max("window_start"))
             - F.unix_timestamp(F.min("window_start"))) / 60 + 1).first()[0]
        return int(span) - n

    assert holes(stale) > 0       # documented violation without tier_name
    assert holes(dense) == 0      # dense again
    # the re-densify must not disturb real rows: stale ⊆ dense exactly
    assert stale.exceptAll(dense).count() == 0
    # and every added row is a flagged zero-count gap row
    added = dense.exceptAll(stale)
    assert added.filter((F.col("turn_count") != 0) | ~F.col("gap_filled")).count() == 0


def test_realtime_view_exact_and_alignment(spark):
    """Serve-path invariant: materialized-before-watermark UNION fresh
    tail == the full rollup bit-for-bit; misaligned watermarks raise."""
    import pytest
    from pyspark.sql import functions as F

    from yatsm_spark.ingest import with_measures
    from yatsm_spark.operators.cascade import realtime_view
    from yatsm_spark.operators.rollup import rollup_from_turns
    from yatsm_spark.synth import generate_transcripts

    tx = generate_transcripts(spark, 12, seed=31, max_turns=400)
    m = with_measures(tx)
    # slot-aligned watermark mid-span
    mid = tx.agg(F.min("ts"), F.max("ts")).collect()[0]
    import pandas as pd
    wm = (pd.Timestamp(mid[0]) + (pd.Timestamp(mid[1])
                                  - pd.Timestamp(mid[0])) / 2) \
        .floor("min")
    tier = rollup_from_turns(m.where(F.col("ts") < F.lit(wm)), "1m")
    view = realtime_view(tier, m, "1m", wm)
    full = rollup_from_turns(m, "1m").drop("gap_filled")
    assert view.exceptAll(full).count() == 0
    assert full.exceptAll(view.drop("gap_filled") if "gap_filled"
                          in view.columns else view).count() == 0
    # a boundary-slot turn is counted exactly once
    assert view.count() == full.count()
    with pytest.raises(ValueError, match="aligned"):
        realtime_view(tier, m, "1m", wm + pd.Timedelta(seconds=7))


def test_zipf_len_clips_before_int_cast():
    """Lengths whose raw value overflows int64 clip to ``hi``, silently."""
    import warnings

    from yatsm_spark.synth import _zipf_len

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = _zipf_len(np.array([1e-12, 1e-4]), hi=50_000)
    assert got.tolist() == [50_000, 50_000]
    assert got.dtype == np.int64
