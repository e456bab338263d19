"""Driver contract for the spark-graft builder (PySpark target).

queries() covers the operator inventory of SURVEY.md §2 (scans S*, filters
F*, joins J*, aggregations A*, window ops W*, scalar families §2.8) plus the
training-data-pipeline additions (dedup / similarity / text analysis /
multimodal). Every SQL-expressible operator has a DuckDB oracle twin with
IDENTICAL column names; sequential-kernel operators (CCDC segments W1-W6,
Gorilla codec) are rows-only here and pinned instead by tests/ fixtures.

Float policy: any column that required arithmetic is either integral
(cents / counts / moments) or rounded identically on both sides from
exactly-ordered folds — the driver's value hash must never see an
order-dependent float (SURVEY.md §7.5.1).

Transcript-based queries read the committed deterministic tables under
data/transcripts_{sf}.parquet (synth.py, seed 42); oracle SQL reads the
same files via read_parquet, so both sides see identical bytes.

Registry: every module-level ``q_<name>(spark, sf_dir)`` function IS the
query ``<name>`` — defining one registers it, and queries() lists no names
of its own. Order: queries() leads with the queries a driver
CORRECTNESS_r{N}.json file covered least recently (never-checked first,
then by the highest N that lists them; ties in definition order), because
the round driver verifies a fixed-size prefix (_driver_order). Tail: a
query whose rows are returned globally sorted ends in
``.transform(_ordered, *cols)``, the one materialize-then-sort step.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from yatsm_spark import conf
from yatsm_spark.ingest import with_measures
from yatsm_spark.operators.bloomjoin import bloom_join
from yatsm_spark.operators.bpe import bpe_merges, bpe_token_counts
from yatsm_spark.operators.cascade import cascade, merge_rollups, realtime_view
from yatsm_spark.operators.changepoint import burst_intervals, pelt_changepoints
from yatsm_spark.operators.changescore import (
    change_scores, change_scores_multi, change_scores_post, predict_at)
from yatsm_spark.operators.classify import (
    classify_segments, crossval_report, segment_features, train_segment_classifier)
from yatsm_spark.operators.codec import compact_chunks, decode_chunks, encode_chunks
from yatsm_spark.operators.curate import (
    curate_corpus, curate_training_set, datamix_report)
from yatsm_spark.operators.decontam import decontaminate, decontaminate_fuzzy
from yatsm_spark.operators.dedup import (
    dedup_groups, dup_ngram_spans, exact_duplicates, minhash_candidates,
    minhash_signatures, ngram_jaccard_pairs, paragraph_dedup, remove_dup_spans,
    simhash16)
from yatsm_spark.operators.downsample import lttb, m4_downsample, swing_door
from yatsm_spark.operators.dsir import dsir_select, dsir_weights
from yatsm_spark.operators.dtw import dtw_rerank
from yatsm_spark.operators.joins import (
    asof_join, asof_latest, broadcast_dim_join, changemap, interval_join,
    pair_consecutive)
from yatsm_spark.operators.kalman import kalman_smooth
from yatsm_spark.operators.matrixprofile import (
    ab_join_profile, left_matrix_profile, matrix_profile, mp_extrema)
from yatsm_spark.operators.multimodal import (
    as_media_table, audio_features, image_features, resize_images, sample_frames,
    synth_jpeg_media, synth_png_media, synth_ppm_media, synth_video_media,
    synth_wav_media)
from yatsm_spark.operators.packing import chunk_documents, pack_documents
from yatsm_spark.operators.pca import pca_project
from yatsm_spark.operators.phenology import diurnal_stats
from yatsm_spark.operators.pq import (
    ivfpq_index, ivfpq_topk, pq_adc_topk, pq_encode, pq_train)
from yatsm_spark.operators.ranking import bm25_topk, tfidf_topk
from yatsm_spark.operators.retention import evict
from yatsm_spark.operators.rollup import (
    rollup_from_turns, rollup_from_turns_adaptive, rollup_from_turns_salted,
    rollup_gapfilled, with_derived_stats)
from yatsm_spark.operators.routing import route_range
from yatsm_spark.operators.sampling import (
    global_shuffle, sample_hash, sample_mixture, sample_stratified, weighted_sample)
from yatsm_spark.operators.sessionize import (
    cohort_retention, funnel, response_latency, session_stats, tool_transitions)
from yatsm_spark.operators.similarity import (
    cosine_topk, embedding_near_dups, hyperplane_buckets, ivf_assign, ivf_topk,
    kmeans_codebook_table, lsh_candidate_pairs, semdedup, train_kmeans)
from yatsm_spark.operators.sketches import (
    cms_estimate, hdr_histogram, hdr_quantiles, hdr_quantiles_from_hist, heavy_hitters,
    hll_distinct, hll_estimate, hll_registers)
from yatsm_spark.operators.textstats import (
    c4_clean, fingerprints, gopher_rules, lang_id, lm_unigram_score, quality_scores,
    redact_pii, repetition_stats, token_counts)
from yatsm_spark.operators.tsanalytics import (
    acf, ccf, distribution_shift, ohlc, periodogram, sax_candidate_pairs, sax_paa,
    sax_words, seasonal_decompose, state_durations, uptime_intervals)
from yatsm_spark.operators.tsfuncs import (
    alert_episodes, deriv, ewma, holt, holt_winters, holt_winters_backtest,
    interp_linear, locf, pearson_corr, rate_per_sec, rolling_anomaly, theil_sen,
    time_weighted_avg, topk_slots, total_increase)
from yatsm_spark.operators.zorder import zorder_key
from yatsm_spark.synth import transcripts_for_sf

REPO = os.path.dirname(os.path.abspath(__file__))
TX_SF001 = os.path.join(REPO, "data", "transcripts_sf0.001.parquet")
TX_SF01 = os.path.join(REPO, "data", "transcripts_sf0.01.parquet")
#: Pure-numpy kernel-twin goldens (tools/make_goldens.py) — oracles for the
#: sequential-kernel queries that have no SQL twin.
GOLDEN_SEG = os.path.join(REPO, "data", "golden_segments_sf0.01.parquet")
GOLDEN_CLS = os.path.join(REPO, "data", "golden_classify_sf0.01.parquet")
GOLDEN_CV = os.path.join(REPO, "data", "golden_crossval_sf0.01.parquet")
GOLDEN_MULTI = os.path.join(REPO, "data", "golden_segments_multi_sf0.01.parquet")
GOLDEN_KM = os.path.join(REPO, "data", "golden_kmeans_sf0.01.parquet")
GOLDEN_PCA = os.path.join(REPO, "data", "golden_pca_sf0.01.parquet")
GOLDEN_LTTB = os.path.join(REPO, "data", "golden_lttb_sf0.01.parquet")
GOLDEN_KAL = os.path.join(REPO, "data", "golden_kalman_sf0.01.parquet")
GOLDEN_MP = os.path.join(REPO, "data", "golden_mp_sf0.01.parquet")
GOLDEN_PELT = os.path.join(REPO, "data", "golden_pelt_sf0.01.parquet")
GOLDEN_DTW = os.path.join(REPO, "data", "golden_dtw_sf0.01.parquet")
GOLDEN_BURSTS = os.path.join(REPO, "data", "golden_bursts_sf0.01.parquet")
GOLDEN_SWING = os.path.join(REPO, "data", "golden_swing_sf0.01.parquet")
GOLDEN_AB = os.path.join(REPO, "data", "golden_ab_sf0.01.parquet")
GOLDEN_LP = os.path.join(REPO, "data", "golden_lp_sf0.01.parquet")

ROLE_COUNTS_SQL = """
       count(*)::long AS turn_count,
       sum(length(text))::long AS token_len_sum,
       min(length(text))::long AS token_len_min,
       max(length(text))::long AS token_len_max,
       sum(length(text)*length(text))::long AS token_len_sumsq,
       sum((tool IS NOT NULL)::int)::long AS tool_call_count,
       sum((role = 'user')::int)::long AS role_user_count,
       sum((role = 'assistant')::int)::long AS role_assistant_count,
       sum((role NOT IN ('user','assistant'))::int)::long AS role_other_count
"""


def _tx(spark: SparkSession, sf_dir: str, convs: int | None = None) -> DataFrame:
    """The transcript table for ``sf_dir``; with ``convs``, only the slice
    of conversations numbered below it."""
    tx = transcripts_for_sf(spark, sf_dir, data_root=os.path.join(REPO, "data"))
    return tx if convs is None else tx.filter(F.col("conv_id") < f"conv{convs:08d}")


def _tx_path(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(REPO, "data", f"transcripts_{base}.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ordered(df: DataFrame, *cols: str) -> DataFrame:
    """A query's result, materialized once, then globally sorted by ``cols``.

    Every query that ends in a global sort ends in ``.transform(_ordered,
    *cols)``, so this is the one place a query result is materialized.
    A global sort range-partitions, and RangePartitioning draws its
    sample by EXECUTING the child plan — so every query that ends in
    .orderBy() was computing its whole pipeline TWICE (once for the
    sampling pass, once for the real exchange; measured 2x on tx_deriv /
    tx_anomaly at sf0.1). A lazy local checkpoint caches the child's
    partitions at first materialization (the sampling pass) and the sort
    exchange re-reads them — identical rows, one execution. The sort
    itself stays: ordered output is part of each query's contract.
    """
    return conf.materialize(df, eager=False).orderBy(*cols)


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gap-filled 1m rollup with derived stats on sf0.001
    transcripts (the engine's minimum E2E slice, SURVEY.md §7.2)."""
    tx = _tx(spark, "/root/testdata/sf0.001")
    return with_derived_stats(rollup_gapfilled(with_measures(tx), "1m"))


# ---------------------------------------------------------------------------
# transcript queries (graft core)


def q_tx_rollup_1m(spark, sf_dir):
    return rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m").drop("gap_filled")


def q_tx_rollup_1m_salted(spark, sf_dir):
    """A6 salted two-phase rollup — must be BIT-IDENTICAL to the unsalted
    rollup (decomposable moments), so it shares tx_rollup_1m's oracle."""
    return rollup_from_turns_salted(with_measures(_tx(spark, sf_dir)), "1m").drop("gap_filled")


def q_tx_rollup_1m_adaptive(spark, sf_dir):
    """A6 adaptive selective salting (sample-detected hot keys only) —
    values bit-identical to the unsalted rollup regardless of which keys
    the sample flags, so it shares tx_rollup_1m's oracle. Threshold tuned
    down so the sf0.01 table actually exercises the hot path."""
    return rollup_from_turns_adaptive(
        with_measures(_tx(spark, sf_dir)), "1m",
        hot_threshold=200, sample_fraction=0.05).drop("gap_filled")


def q_tx_reconcile_merge(spark, sf_dir):
    """Late-arrival delta merge (continuous-aggregate incremental
    maintenance): every 7th turn is withheld as 'late', the tier is built
    from the rest, the late turns are rolled up separately and merged.
    Oracle = plain rollup over ALL turns — merge(rollup(base),
    rollup(late)) must be bit-identical to rollup(base ∪ late)."""
    tx = _tx(spark, sf_dir)
    base = tx.filter(F.col("turn_idx") % 7 != 0)
    late = tx.filter(F.col("turn_idx") % 7 == 0)
    tier = rollup_from_turns(with_measures(base), "1m").drop("gap_filled")
    delta = rollup_from_turns(with_measures(late), "1m").drop("gap_filled")
    return merge_rollups(tier, delta)


def q_tx_retention(spark, sf_dir):
    """Retention eviction (SURVEY.md §2.11): the RETAINED 1m rows after
    evicting slots older than 2 days (per-conv age) that sit at/below the
    finalized 1h watermark. Oracle recomputes the same predicate in SQL."""
    tx = _tx(spark, sf_dir, 50)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    kept = evict(filled, "1m", "1h", ttl_seconds=2 * 86400)
    return kept.select("conv_id", "window_start", "turn_count", "gap_filled")


def q_tx_gapfill_1m(spark, sf_dir):
    tx = _tx(spark, sf_dir, 100)
    out = rollup_gapfilled(with_measures(tx), "1m")
    return out.select("conv_id", "window_start", "turn_count", "token_len_sum",
                      "tool_call_count", "gap_filled")


def q_tx_periodogram(spark, sf_dir):
    """Harmonic power scan over the gap-filled 1m turn-count grid:
    fraction-of-variance-explained at candidate periods 30/60/120/240
    minutes plus the dominant-period flag. All moments exact integers
    (decimal partials); trig tables snapped to micro-units on the driver
    and shared verbatim with the oracle (tsanalytics.trig_micro_tables),
    so both engines evaluate one identical double expression."""
    tx = _tx(spark, sf_dir, 100)
    tier = rollup_gapfilled(with_measures(tx), "1m")
    return periodogram(tier, periods=(30, 60, 120, 240))


def q_tx_locf(spark, sf_dir):
    """Gap-fill value policy: last-observation-carried-forward over the
    NULL-on-gap token_len_sum of the dense 1m tier (operators/tsfuncs.py
    — the TimescaleDB locf() surface). Pure window plan, integer types
    preserved, reusing the tier's conv partitioning."""
    tx = _tx(spark, sf_dir, 100)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    return locf(filled, ["token_len_sum"]).select(
        "conv_id", "window_start", "turn_count", "token_len_sum", "gap_filled")


def q_tx_interp(spark, sf_dir):
    """Gap-fill value policy: linear interpolation across gap runs
    (TimescaleDB interpolate()). Real rows stay integer-valued; gap rows
    are prev + (next-prev)*frac from integer-exact operands, snapped to
    the 1e-6 grid identically in both engines."""
    tx = _tx(spark, sf_dir, 100)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    return interp_linear(filled, ["token_len_sum"]).select(
        "conv_id", "window_start", "turn_count", "token_len_sum", "gap_filled")


def q_tx_counter_increase(spark, sf_dir):
    """PromQL-style reset-aware increase() over a modular cumulative-turn
    counter (resets every 512 turns) replayed per conv on the sparse 1m
    tier. Integer math end to end."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m")
    w = (Window.partitionBy("conv_id").orderBy("window_start")
               .rowsBetween(Window.unboundedPreceding, 0))
    counter = tier.withColumn(
        "counter", F.pmod(F.sum("turn_count").over(w), F.lit(512)))
    return total_increase(counter, "counter").transform(_ordered, "conv_id")


def q_tx_twa(spark, sf_dir):
    """Time-weighted average token_len_sum over the SPARSE 1m tier
    (TimescaleDB time_weight('locf')): each slot's value holds until the
    next real slot. decimal(38,0)-exact sums; one snapped division."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m")
    return time_weighted_avg(tier, "token_len_sum").transform(_ordered, "conv_id")


def q_tx_lttb(spark, sf_dir):
    """LTTB downsample (Steinarsson 2013; TimescaleDB lttb()) of each
    conv's sparse 1m series to <= 64 visually-dominant points. Oracle: a
    pure-numpy twin (tools/make_goldens.py::lttb_twin — same kernel, no
    Spark) persisted as data/golden_lttb_sf0.01.parquet, so the row is a
    genuine differential over applyInPandas grouping/ordering/Arrow.
    Emitted values are the tier's original integers — floats only pick
    indices."""
    tx = _tx(spark, sf_dir, 100)
    tier = rollup_from_turns(with_measures(tx), "1m")
    return lttb(tier, "turn_count", 64).transform(_ordered, "conv_id", "pos")


def q_tx_m4(spark, sf_dir):
    """M4 downsampling (Jugel et al., VLDB 2014): per (conv, 1h bucket)
    keep only the first/last/min/max points of the 1m series — the
    error-free line-chart reduction. Exact integer relation (ties break
    on earliest slot), pure window plan, <= 4 rows per bucket."""
    tx = _tx(spark, sf_dir, 100)
    tier = rollup_from_turns(with_measures(tx), "1m")
    return m4_downsample(tier, "turn_count", 3600) \
        .transform(_ordered, "conv_id", "window_start")


def q_tx_ewma(spark, sf_dir):
    """EWMA smoothing (adjust=False recurrence, alpha=0.25) over each
    conv's 1h series. alpha and 1-alpha are exact binary fractions, so
    the DuckDB oracle's recursive-CTE replay of the identical recurrence
    agrees to the LAST BIT — raw doubles, no snapping (same discipline
    as the tx_segments coefficient columns)."""
    tx = _tx(spark, sf_dir, 200)
    tier = rollup_from_turns(with_measures(tx), "1h")
    return ewma(tier, "turn_count", 0.25).transform(_ordered, "conv_id", "window_start")


def q_tx_holt(spark, sf_dir):
    """Holt double exponential smoothing (level + trend, alpha=0.5,
    beta=0.25, zero initial trend) over each conv's 1h series. All four
    recurrence multipliers are exact binary fractions, so the DuckDB
    recursive-CTE replay of the two-accumulator recurrence agrees with
    the raw double streams to the LAST BIT — no snapping (the tx_ewma
    discipline, extended to coupled accumulators)."""
    tx = _tx(spark, sf_dir, 200)
    tier = rollup_from_turns(with_measures(tx), "1h")
    return holt(tier, "turn_count").transform(_ordered, "conv_id", "window_start")


def q_tx_rate(spark, sf_dir):
    """PromQL rate(): reset-aware total increase of the modular turn
    counter divided by each conv's observed span. Integer numerator and
    denominator; the one division is 1e-6-snapped via the shared
    round-half-up floor formula."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m")
    w = (Window.partitionBy("conv_id").orderBy("window_start")
               .rowsBetween(Window.unboundedPreceding, 0))
    counter = tier.withColumn(
        "counter", F.pmod(F.sum("turn_count").over(w), F.lit(512)))
    return rate_per_sec(counter, "counter").transform(_ordered, "conv_id")


def q_tx_deriv(spark, sf_dir):
    """PromQL deriv(): per-conv least-squares slope of token_len_sum
    against time over the sparse 1m tier. Five exact-decimal moments
    (order-independent — bit-identical at any parallelism), x shifted
    to seconds-since-first-slot, one snapped double division; the
    DuckDB oracle replays the identical tree over HUGEINT moments."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m")
    return deriv(tier, "token_len_sum").transform(_ordered, "conv_id")


def q_tx_corr(spark, sf_dir):
    """Per-conv Pearson correlation between turn_count and
    token_len_sum on the 1h tier, from exact-decimal moments; the two
    variance terms are sqrt'd separately in double (their decimal
    product could overflow 38 digits), then one snapped division."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1h")
    return pearson_corr(tier, "turn_count", "token_len_sum") \
        .transform(_ordered, "conv_id")


def q_tx_anomaly(spark, sf_dir):
    """Rolling z-test anomaly flags over each conv's 1m turn_count
    series: each slot vs its 30 preceding slots. The flag is decided in
    PURE integer arithmetic (cross-multiplied 3-sigma test) — zero
    float risk; the snapped zscore column evaluates the identical
    sqrt-of-exact-integers tree in both engines."""
    tx = _tx(spark, sf_dir, 100)
    tier = rollup_from_turns(with_measures(tx), "1m") \
        .select("conv_id", "window_start", "turn_count")
    return rolling_anomaly(tier, "turn_count", k=30, sigma=3, min_n=8) \
        .transform(_ordered, "conv_id", "window_start")


def q_tx_alert_episodes(spark, sf_dir):
    """Anomaly flags collapsed into alert episodes (maximal consecutive
    flagged runs): first/last slot, length, peak snapped zscore, value
    at the peak. Same rolling-anomaly base as tx_anomaly; the episode
    reduction is pure integer/snapped-value relational algebra."""
    tx = _tx(spark, sf_dir, 100)
    tier = rollup_from_turns(with_measures(tx), "1m") \
        .select("conv_id", "window_start", "turn_count")
    flags = rolling_anomaly(tier, "turn_count", k=30, sigma=3, min_n=8)
    return alert_episodes(flags).transform(_ordered, "conv_id", "episode_start")


def q_tx_ohlc(spark, sf_dir):
    """Candlestick (OHLC) reduction of the 1m tier into 1h buckets
    (TimescaleDB candlestick_agg): open/close picked by min_by/max_by
    on the slot timestamp (unique per conv), high/low/count plain
    aggregates. Exact integer relation."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m")
    return ohlc(tier, "turn_count", 3600).transform(_ordered, "conv_id", "bucket_start")


def q_tx_state_durations(spark, sf_dir):
    """State accounting (TimescaleDB state_agg): microseconds each conv
    spent in each role state (state holds until the next turn), plus
    event and run counts. Exact integer relation from unix_micros."""
    return state_durations(_tx(spark, sf_dir)).transform(_ordered, "conv_id", "state")


def q_tx_uptime(spark, sf_dir):
    """Heartbeat/uptime accounting (TimescaleDB heartbeat_agg): turn
    timestamps merged into live intervals under a 300s tolerance
    (gaps-and-islands with a RANGE-frame island id, deterministic under
    tied beats); per conv the interval count, live microseconds, and
    covered span."""
    return uptime_intervals(_tx(spark, sf_dir), 300).transform(_ordered, "conv_id")


def q_tx_acf(spark, sf_dir):
    """Autocorrelation (lags 1..5) of each conv's DENSE 1m turn_count
    series, from exact decimal moments with denominators cleared by
    n^2 — one snapped division per lag (see tsanalytics.acf)."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1m")
    return acf(dense, "turn_count", 5).transform(_ordered, "conv_id", "lag")


def q_tx_seasonal(spark, sf_dir):
    """Classical additive decomposition (2xMA daily trend, uncentered
    phase-mean seasonal, residual) of each conv's DENSE 1h turn_count
    series, period 24. Every emitted float is ONE snapped division of
    exact integers (common denominator 48*C_p cleared)."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h")
    return seasonal_decompose(dense, "turn_count", 24, 3600) \
        .transform(_ordered, "conv_id", "window_start")


def q_tx_ccf(spark, sf_dir):
    """Lead-lag cross-correlation (lags -3..+3) between turn_count and
    tool_call_count on each conv's DENSE 1h series — exact decimal
    moments, variance terms sqrt'd separately (tx_corr discipline),
    one snapped division per lag."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h")
    return ccf(dense, "turn_count", "tool_call_count", 3) \
        .transform(_ordered, "conv_id", "lag")


def q_tx_sax(spark, sf_dir):
    """SAX symbolic representation (Lin et al. 2003) of each conv's
    DENSE 1m turn_count series: 16 PAA segments, alphabet 'abcd' at the
    Gaussian breakpoints. Long form (one row per segment); snapped PAA,
    deterministic letter binning over exact snapped inputs."""
    tx = _tx(spark, sf_dir, 100)
    dense = rollup_gapfilled(with_measures(tx), "1m")
    return sax_paa(dense, "turn_count", 16, 4).transform(_ordered, "conv_id", "seg")


def q_tx_sax_neardups(spark, sf_dir):
    """Series near-duplicate candidates via SAX words (the MinHash-LSH
    idea applied to SHAPE): convs whose dense 1m series share the exact
    16-segment/4-letter symbolic word pair up, (a < b). The word is a
    locality bucket — identical words mean the series' coarse shapes
    match after z-normalization; zero-variance series (NULL word) never
    pair. Bucketed self-join, the lsh_pairs plan shape."""
    tx = _tx(spark, sf_dir, 100)
    dense = rollup_gapfilled(with_measures(tx), "1m")
    w = sax_words(dense, "turn_count", 16, 4)
    return sax_candidate_pairs(w, max_bucket=64) \
        .transform(_ordered, "conv_a", "conv_b")


def q_tx_holtwinters(spark, sf_dir):
    """Holt-Winters additive triple smoothing (alpha=0.5, beta=0.25,
    gamma=0.25, period=24) over each conv's DENSE 1h series. All six
    multipliers are exact binary fractions; the DuckDB recursive-CTE
    oracle carries the seasonal state as a 24-slot ring list and
    replays the identical recurrence — raw doubles match to the LAST
    BIT (the tx_ewma/tx_holt discipline, third accumulator)."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return holt_winters(dense, "turn_count", period=24) \
        .transform(_ordered, "conv_id", "window_start")


def q_tx_dist_shift(spark, sf_dir):
    """Two-sample chi-square between the first and second half of each
    conv's DENSE 1m turn-count distribution — the batch regime-shift
    detector. Per-bucket terms snapped to 1e-6 integers and summed
    exactly, so the reduction is parallelism-invariant; no
    transcendentals anywhere (chi2 chosen over PSI/KL because ln is
    not correctly-rounded across engines)."""
    tx = _tx(spark, sf_dir, 100)
    dense = rollup_gapfilled(with_measures(tx), "1m")
    return distribution_shift(dense, "turn_count", cap=64) \
        .transform(_ordered, "conv_id")


def q_tx_hw_backtest(spark, sf_dir):
    """One-step-ahead Holt-Winters forecast backtest per conv (mae /
    rmse / smape / mase). The recurrence doubles are bit-identical in
    both engines (the tx_holtwinters guarantee); every per-row error
    term is snapped to an INTEGER on the 1e-6 grid and summed exactly
    (Python ints vs HUGEINT), so each metric is one final snapped
    division of exact integers — no order-dependent float reduction."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return holt_winters_backtest(dense, "turn_count", period=24) \
        .transform(_ordered, "conv_id")


def q_events_funnel(spark, sf_dir):
    """view -> click -> purchase funnel over the events table (1-day
    step horizon): per step the users whose earliest qualifying event
    chains within the horizon, plus the snapped conversion rate vs
    step 1. MIN-based semantics — order-independent, no windows, no
    UDFs."""
    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], horizon_s=86400) \
        .transform(_ordered, "step_ord")


def q_events_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix over the events table: users
    bucketed by first-event week, per (cohort, week offset) the active
    count and snapped retention rate. MIN-based cohort assignment —
    order-independent, exact integers throughout."""
    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period_s=604800) \
        .transform(_ordered, "cohort_start", "period_offset")


def q_tx_realtime_view(spark, sf_dir):
    """Real-time continuous-aggregate serve path: the materialized 1m
    tier before a slot-aligned watermark UNION an on-the-fly rollup of
    the raw tail at/after it. The oracle is the PLAIN full rollup — the
    strongest serve-path invariant: the split must reproduce the full
    tier bit-for-bit."""
    wm = "2025-01-20 00:00:00"
    m = with_measures(_tx(spark, sf_dir))
    # the "stored" tier: built from history before the watermark, as a
    # materialized table would have been
    tier = rollup_from_turns(m.where(F.col("ts") < F.lit(wm)), "1m")
    return realtime_view(tier, m, "1m", wm) \
        .transform(_ordered, "conv_id", "window_start")


def q_tx_route(spark, sf_dir):
    """Tier-routing view selection (operators/routing.py): a mid-hour ->
    past-the-watermark range answered from the COARSEST tiers that cover
    it (1d core, 1h/1m ragged edges) plus the raw fresh tail — the full
    1d -> 1h -> 1m -> realtime fallback chain in one query. The oracle is
    the raw-turn aggregation over the same range: routed answers must be
    BIT-IDENTICAL because every tier moment is an exact decomposable
    long."""
    wm = "2025-01-20 00:00:00"
    m = with_measures(_tx(spark, sf_dir))
    t1m = rollup_from_turns(m.where(F.col("ts") < F.lit(wm)), "1m")
    tiers = {"1m": t1m, "1h": cascade(t1m, "1m", "1h"),
             "1d": cascade(t1m, "1m", "1d")}
    return route_range(tiers, "2025-01-02 00:30:00", "2025-01-22 02:03:00",
                       fresh_measures=m, watermark=wm) \
        .transform(_ordered, "conv_id")


def q_tx_route_chunks(spark, sf_dir):
    """Tier routing THROUGH compressed storage: the 1m tier is Gorilla-
    chunk-encoded, then fine rows before an eviction cutoff are DELETED
    (the retention flow); a range query straddling the evicted region
    routes its 1m ragged edges to chunk decode (live rows win via
    anti-join — the [cutoff, watermark) overlap window is double-covered
    and must not double-count). Oracle: the raw-turn aggregation — the
    routed+decoded answer must be BIT-IDENTICAL."""
    wm, evict_cutoff = "2025-01-20 00:00:00", "2025-01-15 00:00:00"
    m = with_measures(_tx(spark, sf_dir))
    t1m = rollup_from_turns(m.where(F.col("ts") < F.lit(wm)), "1m")
    chunks = encode_chunks(t1m, "1m")
    live_1m = t1m.where(F.col("window_start") >= F.lit(evict_cutoff))
    tiers = {"1m": live_1m, "1h": cascade(t1m, "1m", "1h"),
             "1d": cascade(t1m, "1m", "1d")}
    return route_range(tiers, "2025-01-05 00:30:00", "2025-01-22 02:03:00",
                       fresh_measures=m, watermark=wm, chunks=chunks) \
        .transform(_ordered, "conv_id")


def q_tx_compact(spark, sf_dir):
    """Chunk-table COMPACTION preserving the serving invariant end to
    end: the 1m tier is encoded at a deliberately tiny chunk_points=256
    (the many-small-chunks state frequent incremental eviction runs
    leave behind), compact_chunks() re-frames it to 4096-point chunks,
    and the same straddling range query as tx_route_chunks is served
    through the COMPACTED table. Oracle: the raw-turn aggregation —
    routed + compacted + decoded must stay BIT-IDENTICAL."""
    wm, evict_cutoff = "2025-01-20 00:00:00", "2025-01-15 00:00:00"
    m = with_measures(_tx(spark, sf_dir))
    t1m = rollup_from_turns(m.where(F.col("ts") < F.lit(wm)), "1m")
    chunks = compact_chunks(encode_chunks(t1m, "1m", chunk_points=256))
    live_1m = t1m.where(F.col("window_start") >= F.lit(evict_cutoff))
    tiers = {"1m": live_1m, "1h": cascade(t1m, "1m", "1h"),
             "1d": cascade(t1m, "1m", "1d")}
    return route_range(tiers, "2025-01-05 00:30:00", "2025-01-22 02:03:00",
                       fresh_measures=m, watermark=wm, chunks=chunks) \
        .transform(_ordered, "conv_id")


def q_tx_left_profile(spark, sf_dir):
    """Left matrix profile (bounded-history novelty score) of each
    conv's DENSE 1h series — the batch side of the streaming discord
    detector; scores never change once emitted, so the streaming twin
    achieves full bit parity (pytest). Oracle: same-kernel twin
    (data/golden_lp_sf0.01.parquet)."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return left_matrix_profile(dense, m=12, w_hist=48) \
        .transform(_ordered, "conv_id", "idx")


def q_tx_ab_profile(spark, sf_dir):
    """Cross-series window search (Matrix Profile AB-join, min per
    series): for every conv under 100, the single 12h window of its
    dense 1h series closest (z-normalized) to ANY window of
    conv00000014's series. Query series broadcast once; integer
    moments/dot products, floats only elementwise. Oracle: same-kernel
    twin (data/golden_ab_sf0.01.parquet)."""
    tx = _tx(spark, sf_dir, 100)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return ab_join_profile(dense, "conv00000014", m=12) \
        .transform(_ordered, "conv_id")


def q_tx_swing(spark, sf_dir):
    """Swinging-door compression of each conv's sparse 1m series
    (E=2): the archive points whose door corridor covers everything
    dropped, with reconstruction within 2E (exact-integer-verified in
    pytest). All door decisions are integer cross-multiplications.
    Oracle: same-kernel twin (data/golden_swing_sf0.01.parquet)."""
    tx = _tx(spark, sf_dir, 200)
    tier = rollup_from_turns(with_measures(tx), "1m") \
        .select("conv_id", "window_start", "turn_count")
    return swing_door(tier, "turn_count", e=2) \
        .transform(_ordered, "conv_id", "pos")


def q_tx_topk_slots(spark, sf_dir):
    """Each conv's 5 busiest 1m slots (rank by count desc, earlier slot
    on ties) — rank-limit with a partial WindowGroupLimit below the
    exchange, so a hot conv ships k x maps rows, never its full
    series."""
    tier = rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1m") \
        .select("conv_id", "window_start", "turn_count")
    return topk_slots(tier, "turn_count", k=5) \
        .transform(_ordered, "conv_id", "rank")


def q_tx_bursts(spark, sf_dir):
    """Kleinberg two-state bursts per conv over RAW turn arrivals (no
    tier, no binning): intervals where the turn rate jumps to 3x the
    conv's own base rate. Oracle: numpy twin on the same sorted
    arrival times (data/golden_bursts_sf0.01.parquet)."""
    tx = _tx(spark, sf_dir, 300)
    return burst_intervals(tx, s=3.0, gamma=1.0) \
        .transform(_ordered, "conv_id", "burst_ord")


def q_tx_dtw_rerank(spark, sf_dir):
    """Bucket-then-exact series near-dup pipeline: SAX words on the
    DENSE 1h tier generate candidate pairs (cheap, bucketed), then
    exact DTW re-ranks each pair — integer DP end-to-end, zero floats
    in the distance. Oracle: a twin that recomputes the words with the
    proven-equal SQL and replays the SAME integer kernel
    (data/golden_dtw_sf0.01.parquet)."""
    tx = _tx(spark, sf_dir, 100)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    w = sax_words(dense, "turn_count", 16, 4)
    pairs = sax_candidate_pairs(w, max_bucket=64) \
        .select("conv_a", "conv_b")
    return dtw_rerank(dense, pairs).transform(_ordered, "conv_a", "conv_b")


def q_tx_response_latency(spark, sf_dir):
    """Per-conv response-latency profile: user turn -> nearest following
    assistant turn, exact integer microseconds; median/p90 are SELECTION
    ranks in integer math (the cross-engine median discipline)."""
    return response_latency(_tx(spark, sf_dir))


def q_tx_tool_transitions(spark, sf_dir):
    """First-order Markov transition counts over tool-call sequences
    (LEAD per conv, non-tool turns skipped, terminal NULL included);
    p_next is one round-6 exact integer division per row."""
    return tool_transitions(_tx(spark, sf_dir))


def q_tx_kalman(spark, sf_dir):
    """Kalman local-level filter + RTS smoother over each conv's DENSE
    1h turn-count series (state-space denoising; Harvey 1989) — the
    proper-backward-pass twin of the EWMA/Holt smoothers. Oracle: a
    pure-numpy twin driven outside Spark (tools/make_goldens.py::
    kalman_twin, data/golden_kalman_sf0.01.parquet), so the row is a
    genuine differential over applyInPandas grouping/ordering/Arrow."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return kalman_smooth(dense, "turn_count")


def q_tx_pelt(spark, sf_dir):
    """PELT globally-optimal changepoints (L2 mean-shift cost, BIC-ish
    per-series default penalty) of each conv's DENSE 1h series — the
    offline complement to the CCDC-style online monitor. Oracle: a
    pure-numpy twin driven outside Spark (tools/make_goldens.py::
    pelt_twin, data/golden_pelt_sf0.01.parquet); optimality itself is
    pinned separately by a brute-force exhaustive-segmentation pytest."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return pelt_changepoints(dense, "turn_count") \
        .transform(_ordered, "conv_id", "cp_ord")


def q_tx_matrix_profile(spark, sf_dir):
    """Matrix profile (Yeh et al. 2016) of each conv's DENSE 1h series,
    window m=12: per window the z-normalized nearest-neighbor distance
    and partner index. Oracle: a pure-numpy twin driven outside Spark
    (tools/make_goldens.py::matrix_profile_twin,
    data/golden_mp_sf0.01.parquet) — same kernel bits on the same dense
    series, so the row is a Spark-vs-numpy plumbing differential."""
    tx = _tx(spark, sf_dir, 200)
    dense = rollup_gapfilled(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return matrix_profile(dense, m=12).transform(_ordered, "conv_id", "idx")


def q_tx_mp_extrema(spark, sf_dir):
    """Per-conv motif + discord summary off the matrix profile —
    min_by/max_by with (mp, idx) tie-break keys, deterministic at any
    parallelism. Oracle: the identical reduction in SQL over the
    matrix-profile golden."""
    return mp_extrema(q_tx_matrix_profile(spark, sf_dir)) \
        .transform(_ordered, "conv_id")


def q_tx_theilsen(spark, sf_dir):
    """Theil-Sen robust trend per conv on the 1h tier: lower-median of
    pairwise slopes + lower-median intercept from the snapped slope —
    pure selection medians (no interpolation arithmetic), so both
    engines pick the identical correctly-rounded doubles."""
    tx = _tx(spark, sf_dir, 200)
    tier = rollup_from_turns(with_measures(tx), "1h") \
        .select("conv_id", "window_start", "turn_count")
    return theil_sen(tier, "turn_count").transform(_ordered, "conv_id")


def q_tx_hdr_cascade(spark, sf_dir):
    """Continuous-aggregate quantile serve path: per-(conv, role) HDR
    histograms SUM-merged to per-conv sketches (counts are commutative
    integers — the merged sketch is BIT-identical to one built from
    raw), then p50/p90/p99 of turn text length read off the merged
    tier. The oracle builds the per-conv histogram DIRECTLY from raw
    turns — passing proves sketch mergeability exactly (the A7 cascade
    invariant, applied to sketches)."""
    tx = _tx(spark, sf_dir).withColumn("tlen", F.length("text"))
    fine = hdr_histogram(tx, ["conv_id", "role"], "tlen")
    merged = fine.groupBy("conv_id", "bucket") \
                 .agg(F.sum("cnt").alias("cnt"))
    return hdr_quantiles_from_hist(merged, ["conv_id"]) \
        .transform(_ordered, "conv_id", "q_label")


def q_tx_cascade_1h(spark, sf_dir):
    """Cascade 1m->1h from partial aggregates; oracle computes 1h DIRECTLY
    from raw turns — passing means the cascade is exact (A7 invariant)."""
    filled = rollup_gapfilled(with_measures(_tx(spark, sf_dir)), "1m")
    return cascade(filled, "1m", "1h").filter("turn_count > 0").drop("gap_filled")


def q_tx_cascade_1d(spark, sf_dir):
    filled = rollup_gapfilled(with_measures(_tx(spark, sf_dir)), "1m")
    return (cascade(cascade(filled, "1m", "1h"), "1h", "1d")
            .filter("turn_count > 0").drop("gap_filled"))


def q_tx_derived_stats_1h(spark, sf_dir):
    r = with_derived_stats(rollup_from_turns(with_measures(_tx(spark, sf_dir)), "1h"))
    return r.select(
        "conv_id", "window_start", "turn_count",
        F.round("token_len_avg", 6).alias("token_len_avg"),
        F.round("token_len_std", 6).alias("token_len_std"),
        F.round("tool_call_rate", 6).alias("tool_call_rate"),
    )


def q_tx_conv_hash(spark, sf_dir):
    """Text-equality invariant (input_hint): per-conv sha256 chain over
    texts in stable (conv_id, turn_idx) order."""
    tx = _tx(spark, sf_dir, 200)
    return (
        tx.select("conv_id", F.struct("turn_idx", F.sha2("text", 256).alias("h")).alias("th"))
        .groupBy("conv_id")
        .agg(F.sha2(F.concat_ws("", F.transform(F.array_sort(F.collect_list("th")),
                                                lambda s: s["h"])), 256).alias("conv_hash"))
    )


def q_tx_changemap(spark, sf_dir):
    return changemap(_tx(spark, sf_dir), "conv_id", "ts") \
        .withColumnRenamed("first_change", "first_ts") \
        .withColumnRenamed("last_change", "last_ts") \
        .withColumnRenamed("num_changes", "n_turns")


def q_tx_asof(spark, sf_dir):
    """J3 as-of: last turn at/before a fixed instant per conv
    (deterministic pick: ts desc, then turn_idx desc on ties)."""
    tx = _tx(spark, sf_dir).select("conv_id", "turn_idx", "role", "ts")
    return asof_latest(tx, "conv_id", "ts", "2025-01-16 00:00:00",
                       tie_break=["turn_idx"])


def q_tx_asof_tool(spark, sf_dir):
    """General as-of JOIN (backward + 600 s tolerance): attribute every
    tool turn to the most recent assistant turn in its conv. The Spark
    side is the union-stream window formulation (ONE shuffle, no join);
    the oracle is DuckDB's NATIVE ASOF JOIN — a genuinely independent
    implementation of the same semantics. Right side pre-aggregated to
    one row per (conv, ts) in both engines (the determinism contract)."""
    tx = _tx(spark, sf_dir)
    left = tx.filter(F.col("role") == "tool") \
             .select("conv_id", "turn_idx", "ts")
    right = (tx.filter(F.col("role") == "assistant")
               .groupBy("conv_id", F.col("ts").alias("rts"))
               .agg(F.max("turn_idx").alias("asst_turn")))
    return asof_join(left, right, "conv_id", "ts", "rts", ["asst_turn"],
                     direction="backward", tolerance_secs=600) \
        .transform(_ordered, "conv_id", "turn_idx")


def q_tx_asof_next(spark, sf_dir):
    """Forward as-of JOIN: the next user turn at/after every tool turn
    (exact-ts matches count, pandas/DuckDB convention). Same
    union-stream single-shuffle plan; DuckDB native ASOF (ts <= rts)
    oracle."""
    tx = _tx(spark, sf_dir)
    left = tx.filter(F.col("role") == "tool") \
             .select("conv_id", "turn_idx", "ts")
    right = (tx.filter(F.col("role") == "user")
               .groupBy("conv_id", F.col("ts").alias("rts"))
               .agg(F.max("turn_idx").alias("next_user_turn")))
    return asof_join(left, right, "conv_id", "ts", "rts",
                     ["next_user_turn"], direction="forward") \
        .transform(_ordered, "conv_id", "turn_idx")


def q_tx_hll_cascade(spark, sf_dir):
    """HLL register MAX-merge up the tier cascade: per-(conv, role)
    register tables merged to per-conv sketches, estimate served off the
    merged registers. MAX is commutative/associative, so the merged
    sketch is BIT-identical to one built from raw — the oracle builds
    the per-conv registers DIRECTLY and must agree exactly (the A7
    invariant applied to HLL, the distinct-count dual of
    tx_hdr_cascade)."""
    tx = _tx(spark, sf_dir)
    fine = hll_registers(tx, ["conv_id", "role"], "text")
    merged = fine.groupBy("conv_id", "bucket") \
                 .agg(F.max("register").alias("register"))
    return hll_estimate(merged, ["conv_id"]).transform(_ordered, "conv_id")


def q_tx_interval_join(spark, sf_dir):
    """J1 interval join: turns inside [first tool-call, +10min] per conv."""
    tx = _tx(spark, sf_dir)
    iv = (
        tx.filter(F.col("tool").isNotNull())
        .groupBy(F.col("conv_id").alias("iv_conv"))
        .agg(F.min("ts").alias("iv_start"))
        .withColumn("iv_end", F.col("iv_start") + F.expr("INTERVAL 10 MINUTES"))
    )
    joined = interval_join(tx, iv, "conv_id", "iv_conv", "ts", "iv_start", "iv_end")
    return joined.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns_in_window"),
        F.sum(F.length("text")).alias("token_len_in_window"),
    )


def q_tx_segments(spark, sf_dir):
    """W9 CCDC segments. Oracle: a PURE-NUMPY twin (tools/make_goldens.py
    drives kernel/ccdc.py with no Spark; lineage recomputed in DuckDB SQL)
    persisted as data/golden_segments_sf0.01.parquet — the driver row is a
    genuine Spark-vs-numpy differential over applyInPandas plumbing,
    densify, ordering, and schema (round-2 VERDICT task 1).

    `coef` is flattened to coef_0..coef_3 raw doubles: both sides run the
    same kernel bits on the same series, so values are BIT-identical — no
    rounding needed (and none wanted: rounding modes could differ)."""
    tx = _tx(spark, sf_dir, 300)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    segs = change_scores(filled)
    return segs.select(
        "conv_id", "segment_id", "start_ts", "end_ts", "break_ts",
        *[F.element_at("coef", i + 1).alias(f"coef_{i}") for i in range(4)],
        "rmse", "magnitude", "n_obs")


def q_tx_classify(spark, sf_dir):
    """P4 end-to-end: CCDC segments -> deterministic activity labels on
    half the convs -> train the numpy forest -> classify EVERY segment.
    Oracle: the same forest driven outside Spark on the segments twin
    (data/golden_classify_sf0.01.parquet, tools/make_goldens.py). Model +
    predictions are parallelism-invariant (seeded forest, sorted training
    sample), so class_proba is returned RAW — bit-identical both sides.

    segs is cached: training AND prediction both traverse the CCDC
    applyInPandas stage, which would otherwise execute twice per run
    (round-2 VERDICT wrong #3)."""
    tx = _tx(spark, sf_dir, 200)
    segs = change_scores(rollup_gapfilled(with_measures(tx), "1m")).cache()
    # labels: deterministic rule over raw conv activity, training half only
    labels = (
        _tx(spark, sf_dir, 100)
        .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
        .select("conv_id",
                F.when(F.col("n") >= 400, F.lit("active")).otherwise(F.lit("light"))
                .alias("label"))
    )
    feats = segment_features(segs)
    model = train_segment_classifier(feats, labels, n_trees=20, seed=11)
    pred = classify_segments(segs, model)
    return pred.select("conv_id", "segment_id", "class", "class_proba")


def q_tx_segments_multi(spark, sf_dir):
    """Multi-band W9 (reference CCDCesque fits every band, tests pooled):
    joint [turn_count, tool_call_count] fit per conv. Oracle: the numpy
    twin driven outside Spark (data/golden_segments_multi_sf0.01.parquet)
    — a true Spark-vs-numpy differential over the multi-measure
    applyInPandas path. Per-band arrays flattened to scalar columns for
    the driver's value hash."""
    tx = _tx(spark, sf_dir, 100)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    segs = change_scores_multi(filled, ["turn_count", "tool_call_count"])
    cols = [F.col("conv_id"), F.col("segment_id"),
            F.col("start_ts"), F.col("end_ts"), F.col("break_ts")]
    for b in range(2):
        for j in range(4):
            cols.append(F.col("coefs")[b][j].alias(f"coef_{b}_{j}"))
        cols.append(F.col("rmse")[b].alias(f"rmse_{b}"))
        cols.append(F.col("magnitude")[b].alias(f"magnitude_{b}"))
    cols.append(F.col("n_obs"))
    return segs.select(*cols)


def q_tx_commission_omission(spark, sf_dir):
    """P1+P2 (with P3 fields) as a driver row: CCDC segments -> commission
    Chow merge (crit 3.0) -> omission Rec-CUSUM score + robust refit per
    surviving segment, all in one applyInPandas pass. Oracle: the
    Spark-free numpy twin (tools/make_goldens.py postprocess_twin,
    data/golden_postprocess_sf0.01.parquet) — same kernel bits on the same
    series, so every double is bit-identical and returned raw."""
    tx = _tx(spark, sf_dir, 200)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    post = change_scores_post(filled, commission_crit=3.0)
    return post.select(
        "conv_id", "segment_id", "start_ts", "end_ts", "break_ts",
        *[F.element_at("coef", i + 1).alias(f"coef_{i}") for i in range(4)],
        "rmse", "magnitude", "n_obs", "omission_score",
        *[F.element_at("robust_coef", i + 1).alias(f"robust_coef_{i}")
          for i in range(4)],
        "robust_rmse")


def q_tx_refit(spark, sf_dir):
    """P3 alone (commission merging off): robust refit + omission score
    aligned 1:1 with the original change_scores segments — pins the
    merge-disabled code path against the same twin machinery
    (data/golden_refit_sf0.01.parquet)."""
    tx = _tx(spark, sf_dir, 200)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    post = change_scores_post(filled, commission_crit=None)
    return post.select(
        "conv_id", "segment_id", "start_ts", "end_ts", "break_ts",
        *[F.element_at("coef", i + 1).alias(f"coef_{i}") for i in range(4)],
        "rmse", "magnitude", "n_obs", "omission_score",
        *[F.element_at("robust_coef", i + 1).alias(f"robust_coef_{i}")
          for i in range(4)],
        "robust_rmse")


#: Prediction date for q_tx_predict — inside the synthetic transcript span.
PREDICT_AT = "2026-02-01T12:00:00"


def q_tx_predict(spark, sf_dir):
    """`yatsm map predict DATE` surface (S8/§3.3): ŷ = X(d)·coef per
    segment via changescore.predict_at — the design row X(d) is built
    driver-side with the SAME kernel code that produced the coefficients
    and folded JVM-side in array order. Oracle: the identical
    left-associated sum over the segments-twin golden with X(d) literals
    computed by the same kernel call; rounded 6dp on both sides."""
    tx = _tx(spark, sf_dir, 300)
    segs = change_scores(rollup_gapfilled(with_measures(tx), "1m"))
    pred = predict_at(segs, PREDICT_AT)
    return pred.select("conv_id", "segment_id",
                       F.round("predicted", 6).alias("predicted"))


def q_tx_segments_pheno(spark, sf_dir):
    """A3 per-segment form: change_scores(phenology=True) — the
    spline-smoothed long-term-mean diurnal fields appended per segment.
    Oracle: the numpy twin (data/golden_pheno_segments_sf0.01.parquet).
    NaN-able doubles (peak_rate on empty profiles, pheno_cor on
    zero-variance segments) are mapped NaN->NULL identically on both
    sides so the value hash never sees a NaN."""
    tx = _tx(spark, sf_dir, 200)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    segs = change_scores(filled, phenology=True)

    def _denan(c):
        return F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(F.col(c)).alias(c)

    return segs.select(
        "conv_id", "segment_id", "start_ts", "end_ts", "break_ts",
        *[F.element_at("coef", i + 1).alias(f"coef_{i}") for i in range(4)],
        "rmse", "magnitude", "n_obs",
        "peak_hour", _denan("peak_rate"), "rise_hour", "fall_hour",
        _denan("pheno_cor"), "pheno_nobs")


def q_tx_crossval(spark, sf_dir):
    """A4 crossvalidation as a driver row: 5-fold held-out accuracies of
    the segment classifier on the deterministic labeled sample. Oracle:
    kernel kfold_scores driven outside Spark on the segments twin
    (data/golden_crossval_sf0.01.parquet) — the differential covers the
    Spark lineage (CCDC segments -> features -> bounded sorted sample);
    the fold scores are exact doubles on both sides."""
    tx = _tx(spark, sf_dir, 200)
    segs = change_scores(rollup_gapfilled(with_measures(tx), "1m"))
    labels = (
        _tx(spark, sf_dir, 100)
        .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
        .select("conv_id",
                F.when(F.col("n") >= 400, F.lit("active")).otherwise(F.lit("light"))
                .alias("label"))
    )
    report = crossval_report(segment_features(segs), labels, k=5, n_trees=20)
    return spark.createDataFrame(report)


def q_tx_phenology(spark, sf_dir):
    """A3 relational form: per-conv long-term-mean diurnal profile stats
    over the gap-filled 1m tier (gap slots are real zero observations)."""
    tx = _tx(spark, sf_dir, 100)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    return diurnal_stats(filled, "turn_count")


def q_tx_codec_roundtrip(spark, sf_dir):
    """Gorilla chunks decoded back to rollup rows; oracle recomputes the
    same gap-filled rollup in SQL — passing proves encode∘decode == id
    THROUGH the engine, not just in the kernel."""
    tx = _tx(spark, sf_dir, 50)
    filled = rollup_gapfilled(with_measures(tx), "1m")
    back = decode_chunks(encode_chunks(filled, "1m"))
    return back.select("conv_id", "window_start", "turn_count", "token_len_sum",
                       "token_len_min", "token_len_max", "gap_filled")


# ---------------------------------------------------------------------------
# events-table queries (driver tables; user_id = conv key, integral cents)


def q_events_rollup_1m(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    slot = F.timestamp_seconds((F.unix_timestamp("ts") / 60).cast("long") * 60)
    return ev.groupBy(F.col("user_id"), slot.alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_sum_cents"),
        F.min(F.round(F.col("value") * 100).cast("long")).alias("value_min_cents"),
        F.max(F.round(F.col("value") * 100).cast("long")).alias("value_max_cents"),
    )


def q_events_cascade_1h(spark, sf_dir):
    r1 = q_events_rollup_1m(spark, sf_dir)
    slot = F.timestamp_seconds((F.unix_timestamp("window_start") / 3600).cast("long") * 3600)
    return r1.groupBy("user_id", slot.alias("window_start")).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("value_sum_cents").alias("value_sum_cents"),
        F.min("value_min_cents").alias("value_min_cents"),
        F.max("value_max_cents").alias("value_max_cents"),
    )


def q_events_gapfill_1h(spark, sf_dir):
    """W8 on the events stream: dense hourly grid per user (users < 30)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    slot = F.timestamp_seconds((F.unix_timestamp("ts") / 3600).cast("long") * 3600)
    r = ev.groupBy("user_id", slot.alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id")
    grid = (
        r.withColumn("mn", F.min("window_start").over(w))
        .withColumn("mx", F.max("window_start").over(w))
        .select("user_id", "mn", "mx").dropDuplicates(["user_id"])
        .select("user_id", F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 3600 SECONDS"))).alias("window_start"))
    )
    return (
        grid.join(r, ["user_id", "window_start"], "left")
        .select("user_id", "window_start",
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
                F.col("n_events").isNull().alias("gap_filled"))
    )


# ---------------------------------------------------------------------------
# TPC-H-ish relational coverage (joins/windows/aggs)


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    cents = lambda c: F.round(F.col(c) * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("sum_disc_e4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_orders_changemap(spark, sf_dir):
    return changemap(_t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate") \
        .withColumnRenamed("first_change", "first_order") \
        .withColumnRenamed("last_change", "last_order") \
        .withColumnRenamed("num_changes", "num_orders")


def q_orders_asof(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return asof_latest(o, "o_custkey", "o_orderdate", "1997-01-01",
                       tie_break=["o_orderkey"]).select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")


def q_orders_pairing(spark, sf_dir):
    """J5: consecutive orders per customer via LEAD; gap in days."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    # LEAD frame must be deterministic under ties: order by (date, key)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("next_orderkey", F.lead("o_orderkey").over(w))
        .withColumn("next_orderdate", F.lead("o_orderdate").over(w))
        .withColumn("gap_days", F.datediff("next_orderdate", "o_orderdate"))
    )


def q_region_rollup(spark, sf_dir):
    """J2 broadcast dims: customer ⨝ nation ⨝ region, acctbal in cents."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = broadcast_dim_join(
        broadcast_dim_join(c, n, c["c_nationkey"] == n["n_nationkey"]),
        r, F.col("n_regionkey") == r["r_regionkey"])
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_sum_cents"),
    )


def q_order_lineitem_interval(spark, sf_dir):
    """J1 range join: line items shipped within 30 days of order date."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = li.join(o, (li["l_orderkey"] == o["o_orderkey"])
                & (li["l_shipdate"] >= o["o_orderdate"])
                & (li["l_shipdate"] <= F.date_add(o["o_orderdate"], 30)))
    return j.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_shipped_30d"))


def q_top_customers(spark, sf_dir):
    """O-class top-k per group: 3 richest customers per market segment."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.withColumn("rank", F.row_number().over(w)).filter("rank <= 3")
        .select("c_mktsegment", "rank", "c_custkey",
                F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"))
    )


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / text / similarity / multimodal


def q_dedup_exact(spark, sf_dir):
    return exact_duplicates(_t(spark, sf_dir, "documents"))


def q_minhash_sigs(spark, sf_dir):
    return minhash_signatures(_t(spark, sf_dir, "documents"), n_hashes=4)


def q_minhash_pairs(spark, sf_dir):
    return minhash_candidates(_t(spark, sf_dir, "documents"), n_hashes=4, bands=2)


def q_dup_ngram_spans(spark, sf_dir):
    """Lee et al. 2022 duplicated-substring coverage: per doc, the word
    5-grams occurring >= 2 times anywhere in the corpus, with overlapping
    [pos, pos+5) spans interval-merged into covered_tokens. Oracle: the
    identical positional-gram + HAVING + running-max interval merge in
    DuckDB; dup_ratio is a round-6 snapped exact integer division."""
    return dup_ngram_spans(_t(spark, sf_dir, "documents"), n=5, min_count=2)


def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_text_repetition(spark, sf_dir):
    """Within-doc repetition quality signals: duplicated 2/3-gram fraction
    (pure array Catalyst) + most-frequent-word share (two hash-aggs on the
    doc key). Ratios are single IEEE divisions of small ints — exact and
    engine-portable, no rounding needed."""
    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_pii_redact(spark, sf_dir):
    """PII scan + redaction over text with deterministically INJECTED
    entities (the synthetic corpus contains none): email always, URL on
    doc_id%2==0, IPv4 on %3==0, phone on %5==0 — both engines build the
    identical augmented string, then the oracle compares match counts AND
    the redacted text BYTE-FOR-BYTE, pinning Java-regex vs RE2 dialect
    alignment of the shared patterns (explicit classes, no lookaround)."""
    d = F.col("doc_id")
    sid = d.cast("string")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), sid, F.lit("@example.com"),
        F.when(d % 2 == 0, F.concat(F.lit(" see https://ex.org/p/"), sid,
                                    F.lit("?q=1"))).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit(" host 192.168.1."),
                                    (d % 250).cast("string"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" call +1 555 867 53"),
                                    (d % 89 + 10).cast("string"))).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", aug.alias("text"))
    return redact_pii(docs, with_counts=True).select(
        "doc_id", "n_email", "n_url", "n_ipv4", "n_phone", "redacted")


def q_dedup_components(spark, sf_dir):
    """Near-dup GROUPS, not just pairs: connected components over the
    n-gram Jaccard pair graph (alternating large-star/small-star — the
    O(log^2 n)-round MapReduce CC algorithm, robust to duplicate chains
    where min-label propagation needs diameter rounds), then a corpus-wide
    keep/drop decision per doc (canonical = component min). Oracle: DuckDB
    recursive CTE computing min reachable id over the identical pair SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_groups(docs, ngram_jaccard_pairs(docs, threshold=0.2))


def q_tfidf_topk(spark, sf_dir):
    """Top-5 salient terms per doc by smooth TF-IDF (sklearn idf form).
    Rank is decided ONLY by integer keys (tf DESC, df ASC, term ASC) —
    exactly the idf order restricted to the doc where tf-idf is strict —
    so membership never rides on cross-engine float ordering; the ln()-
    bearing score itself is snapped to the 1e-6 grid in both engines."""
    return tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


#: BM25 bench/oracle query: terms chosen to hit a spread of df values.
BM25_QUERY = ["join", "merge", "scan"]


def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval (Robertson idf, Lucene k1/b): query-term isin
    filter BEFORE the posting shuffle, df side broadcast (bounded by
    |query|), per-doc contributions summed in integer micro-units so
    reduce order cannot perturb the total, top-k cut on the integer
    score key + doc_id tie-break. orderBy+limit = TakeOrdered, no full
    sort shuffle."""
    return bm25_topk(_t(spark, sf_dir, "documents"), BM25_QUERY, k=25)


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-source quota sample (10/stratum) by Knuth-hash
    order — no RNG state, bit-reproducible, extensible (rank<=m prefix is
    the m-sample). One shuffle on the stratum key."""
    return sample_stratified(_t(spark, sf_dir, "documents"),
                             n_per_stratum=10).select(
        "doc_id", "source", "draw_rank")


def q_curate_training(spark, sf_dir):
    """Round-5 curation signals composed: train-split unigram-LM score,
    train-split dup-span ratio, fuzzy decontam vs the 5% holdout, and
    the combined keep decision (lm >= -3.45, dup_ratio <= 0.5, not
    contaminated — thresholds chosen to FIRE on this corpus). Oracle:
    the three signal pipelines replayed as CTEs over the same Knuth
    split and joined."""
    return curate_training_set(_t(spark, sf_dir, "documents"),
                               bench_rate=0.05, dup_ratio_max=0.5,
                               min_avg_logprob=-3.45, fuzzy_threshold=0.5)


def q_lm_score(spark, sf_dir):
    """CCNet-style perplexity-proxy quality signal: corpus-self unigram
    LM avg log-prob per doc. ln() snapped to integer micro-units per
    occurrence before the per-doc sum (BM25 discipline), final mean is
    one round-6 snapped division — cross-engine value-exact."""
    return lm_unigram_score(_t(spark, sf_dir, "documents"))


def q_gopher_rules(spark, sf_dir):
    """Full Gopher rule battery (Rae 2021 §A1.1.2): word count, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required stop words, composed keep flag. Pure Catalyst; every
    ratio an exact int/int double. min_words=5 and min_stops=1 here (the
    published 50/2 would veto the whole synthetic corpus — its narrow
    vocabulary carries at most one Gopher stop word per doc — and a
    constant flag hides rule regressions; with 5/1 the corpus splits
    ~76/24 keep/drop)."""
    return gopher_rules(_t(spark, sf_dir, "documents"), min_words=5,
                        min_stops=1)


def q_c4_clean(spark, sf_dir):
    """C4 line-level cleanup (Raffel 2020 §2.2): terminal-punctuation +
    min-words + javascript line rules, lorem-ipsum / curly-brace page
    flags, composed keep, byte-exact clean_text. The synthetic docs are
    single-line, so the query composes line-structured input
    deterministically in BOTH engines; the substr line makes the kept
    count (and the page keep flag) vary per doc."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(".\n"),
                 F.substring(F.col("text"), 1, 20), F.lit(".\n"),
                 F.lit("Short line\n"
                       "This line mentions javascript and is dropped.\n"),
                 F.col("text"), F.lit("!")).alias("text"))
    return c4_clean(d)


def q_para_dedup(spark, sf_dir):
    """Dolma/CCNet paragraph-level dedup: drop every non-blank paragraph
    occurrence except its canonical (min doc_id, min idx) instance and
    reassemble. Oracle compares the reassembled clean_text BYTE-exactly
    (the redact_pii discipline). The synthetic docs carry no '\\n\\n', so
    the query composes paragraph-structured input deterministically in
    BOTH engines: [own text, shared boilerplate footer, own text again] —
    the footer survives only in doc 0, the self-repeat never survives,
    and exact-dup docs lose even their first paragraph."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\n\nSHARED BOILERPLATE FOOTER\n\n"),
                 F.col("text")).alias("text"))
    return paragraph_dedup(d)


def q_remove_dup_spans(spark, sf_dir):
    """ExactSubstr REMOVAL (Lee 2022): rewrite each doc with the word
    spans covered by corpus-duplicated 5-grams cut out — same interval
    semantics as dup_ngram_spans, clean_text compared byte-exactly."""
    return remove_dup_spans(_t(spark, sf_dir, "documents"))


def q_weighted_sample(spark, sf_dir):
    """Deterministic A-ES weighted sampling without replacement
    (Efraimidis-Spirakis): inclusion probability proportional to n_chars,
    hash-derived uniforms (no RNG state), micro-snapped keys so the rank
    order is integer-exact cross-engine."""
    return weighted_sample(_t(spark, sf_dir, "documents"), "n_chars",
                           k=100, seed=3)


def q_datamix_report(spark, sf_dir):
    """Per-source corpus telemetry: volume, quality/Gopher pass rates,
    exact-dup rate, LM score re-aggregated from exact integer micro-sums.
    Oracle is composed from the SAME oracle strings the individual signal
    rows are checked against."""
    return datamix_report(_t(spark, sf_dir, "documents"))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie 2023): hashed unigram+bigram bucket
    log-ratios (target = lang='en' slice vs the raw corpus), snapped to
    integer micro-units per occurrence so the per-doc weight is an exact
    long. Oracle replays the same md5-hex4 bucketing and smoothing."""
    return dsir_weights(_t(spark, sf_dir, "documents"),
                        target=F.col("lang") == "en")


def q_dsir_select(spark, sf_dir):
    """DSIR resampling step: deterministic top-k=150 by (logw_micro DESC,
    doc_id) — integer-exact ranking, no one-reducer window (range
    partition + local rank + broadcast offsets)."""
    w = dsir_weights(_t(spark, sf_dir, "documents"),
                     target=F.col("lang") == "en")
    return dsir_select(w, k=150)


def q_shuffle_export(spark, sf_dir):
    """Deterministic global shuffle order (training-export step):
    contiguous shuffle_pos following (knuth_hash(doc_id + 7), doc_id) —
    computed WITHOUT a single-reducer global window (range partition +
    local rank + broadcast offsets). Oracle: the one-window SQL spelling
    row_number() OVER (ORDER BY h, doc_id) - 1."""
    return global_shuffle(_t(spark, sf_dir, "documents"), seed=7)


def q_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy decontamination: exact word-3-shingle Jaccard of every
    train doc vs the broadcast 5% Knuth-hash eval split, best hit per
    doc at threshold 0.5. Oracle: identical CTEs in DuckDB — integer
    intersections/sizes, round-6 snapped division, (jaccard DESC,
    bench_id ASC) rank."""
    docs = _t(spark, sf_dir, "documents")
    bench = sample_hash(docs, rate=0.05)
    train = sample_hash(docs, rate=0.05, complement=True)
    return decontaminate_fuzzy(train, bench, shingle_n=3, threshold=0.5)


def q_sample_hash(spark, sf_dir):
    """Shuffle-free deterministic Bernoulli-style sample: keep iff
    h(doc_id) mod 2^32 < rate * 2^32 — a narrow filter evaluated in the
    scan stage, the only sampler shape that is free at 100 TB."""
    return sample_hash(_t(spark, sf_dir, "documents"), rate=0.25).select(
        "doc_id", "lang", "source")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag train docs sharing any word
    3-gram with a deterministic 5% holdout 'eval set' (Knuth-hash
    split). Bench n-gram set is eval-sized and broadcast; train side is
    one distinct-per-doc explode + hash-agg — all integers, exact."""
    docs = _t(spark, sf_dir, "documents")
    bench = sample_hash(docs, rate=0.05)
    train = sample_hash(docs, rate=0.05, complement=True)
    return decontaminate(train, bench, n=3)


def q_chunk_docs(spark, sf_dir):
    """Sliding-window chunking (32-token windows, stride 24): purely
    per-row sequence expand + explode — zero shuffle, runs at scan
    bandwidth at any scale."""
    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_tokens=32, stride=24)


def q_pack_docs(spark, sf_dir):
    """Next-fit sequence packing into 128-token bins within
    (source, shard) groups, shard = KnuthHash(doc_id) mod 2. The fold is
    applyInPandas per group; the oracle replays the identical fold as a
    DuckDB recursive CTE."""
    return pack_documents(_t(spark, sf_dir, "documents"),
                          budget_tokens=128, n_shards=2)


def q_pack_docs_bpe(spark, sf_dir):
    """Packing against a REAL tokenizer budget: per-doc lengths come from
    the trained merge-table BPE (bpe_token_counts), then the same next-fit
    fold packs into 256-token bins. Oracle chains the recursive-CTE BPE
    trainer into the recursive-CTE fold."""
    docs = _t(spark, sf_dir, "documents")
    lengths = bpe_token_counts(docs, n_merges=48).select(
        "doc_id", F.col("n_bpe_real").alias("dl"))
    return pack_documents(docs, budget_tokens=256, n_shards=2,
                          lengths=lengths)


def q_curate_corpus(spark, sf_dir):
    """The composed curation pipeline as one decision table: holdout
    split -> quality -> exact dedup -> near-dup components ->
    decontamination, flags cumulative per doc. Oracle replays the
    identical staged pipeline (recursive-CTE components included)."""
    return curate_corpus(_t(spark, sf_dir, "documents"), bench_rate=0.05)


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog (p=12) distinct-text estimate per source. The
    register table is MAX-merged (order-free, exact at any
    parallelism); the estimator's integer core sums 2^(61-register) in
    decimal(38,0) / HUGEINT so both engines feed the identical exact
    numerator into one fixed double expression; ln() is 1e-6-snapped."""
    return hll_distinct(_t(spark, sf_dir, "documents"),
                        ["source"], "text").transform(_ordered, "source")


def q_hdr_quantiles(spark, sf_dir):
    """p50/p90/p99 of n_chars per source via the HDR log-histogram
    (4 sub-buckets per octave, pure integer bit math — no log() at
    bucket boundaries). Ranks use rational arithmetic; the corpus
    shuffle carries only (source, bucket) partial counts."""
    return hdr_quantiles(_t(spark, sf_dir, "documents"),
                         ["source"], "n_chars")


def q_cms_estimate(spark, sf_dir):
    """Count-min sketch (depth=4, width=2048, md5-salted hash rows)
    point queries: estimated turn count per (role, conv_id) for every
    observed pair. Counters SUM-merge (bit-identical at any
    parallelism); the estimate is the min over hash rows, one-sided
    (never under the true count). Both engines replay the identical
    md5 cell recipe, so every counter matches exactly."""
    tx = _tx(spark, sf_dir)
    items = tx.select("role", "conv_id").distinct()
    return cms_estimate(tx, ["role"], "conv_id", items) \
        .transform(_ordered, "role", "conv_id")


def q_heavy_hitters(spark, sf_dir):
    """EXACT heavy hitters (>= 600 turns per (role, conv_id)),
    CMS-accelerated: the broadcast sketch drops light values BEFORE the
    exact count shuffle; the CMS's one-sided error means no true heavy
    is lost, so the result equals plain GROUP BY ... HAVING — which is
    the oracle. At 100 TB the exchange carries only plausibly-heavy
    rows instead of the long tail."""
    return heavy_hitters(_tx(spark, sf_dir), ["role"], "conv_id", 600) \
        .transform(_ordered, "role", "conv_id")


def q_bloom_join(spark, sf_dir):
    """EXACT fact join dim with Bloom pre-pruning of the fact side
    (operators/bloomjoin.py): the dim keys (urgent orders) are packed
    into a BIT_OR word bitmap (<= n_bits/64 rows, never collected) and
    lineitem is pruned by k broadcast word-lookups BEFORE the join
    exchange. The Bloom filter's one-sided error (no false negatives)
    means the result equals the plain join — which is the oracle, same
    structure as the CMS-accelerated heavy_hitters."""
    li = _t(spark, sf_dir, "lineitem")
    dim = (_t(spark, sf_dir, "orders")
           .filter(F.col("o_orderpriority") == "1-URGENT")
           .select("o_orderkey"))
    j = bloom_join(li, dim, "l_orderkey", "o_orderkey", n_bits=1 << 16)
    return (j.groupBy("o_orderkey")
             .agg(F.count(F.lit(1)).alias("n_lines"),
                  F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"))
             .transform(_ordered, "o_orderkey"))


def q_simhash(spark, sf_dir):
    return simhash16(_t(spark, sf_dir, "documents"))


def q_token_counts(spark, sf_dir):
    return token_counts(_t(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """REAL merge-table BPE training on the corpus (operators/bpe.py).
    Oracle re-derives the identical ordered merge table in a DuckDB
    recursive CTE — independent implementation, exact string equality."""
    return bpe_merges(_t(spark, sf_dir, "documents"), n_merges=48)


def q_bpe_token_counts(spark, sf_dir):
    """Train-on-corpus BPE then per-doc real token counts; oracle trains
    AND segments in one recursive CTE (final training state IS each
    word's tokenization — pinned to apply_bpe by tests/test_bpe.py)."""
    return bpe_token_counts(_t(spark, sf_dir, "documents"), n_merges=48)


def q_quality(spark, sf_dir):
    return quality_scores(_t(spark, sf_dir, "documents"))


def q_langid(spark, sf_dir):
    return lang_id(_t(spark, sf_dir, "documents"))


def q_fingerprints(spark, sf_dir):
    return fingerprints(_t(spark, sf_dir, "documents"))


def q_cosine_topk(spark, sf_dir):
    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5)


def q_lsh_buckets(spark, sf_dir):
    return hyperplane_buckets(_t(spark, sf_dir, "embeddings"), n_planes=8)


def q_lsh_pairs(spark, sf_dir):
    return lsh_candidate_pairs(_t(spark, sf_dir, "embeddings"), n_planes=8)


def q_ivf_assign(spark, sf_dir):
    """IVF coarse assignment: (vec_id, cluster) against the deterministic
    16-centroid codebook — the table the corpus would be bucketed by."""
    return ivf_assign(_t(spark, sf_dir, "embeddings"), n_centroids=16)


def q_ivf_topk(spark, sf_dir):
    """IVF ANN top-k (nprobe=4 of 16 lists): the scale path next to the
    brute-force cosine_topk baseline — candidates are ~nprobe/n_centroids
    of the corpus, probes broadcast, corpus scan shuffle-free."""
    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_ids=list(range(10)),
                    k=5, n_centroids=16, nprobe=4)


def q_ivf_assign_b256(spark, sf_dir):
    """IVF assignment through the BROADCAST-codebook path at a codebook
    size (256×64 = 16 k doubles) past the literal-inlining threshold —
    the round-3 VERDICT scale fix: the codebook ships as a broadcast numpy
    matrix into a vectorized mapInPandas (sequential-fold arithmetic,
    bit-equal to the literal expressions), so plan size stays O(1) at a
    production 4096×768 codebook."""
    return ivf_assign(_t(spark, sf_dir, "embeddings"), n_centroids=256,
                      method="broadcast")


def q_ivf_topk_b256(spark, sf_dir):
    """IVF ANN top-k over 256 lists (nprobe=32) via the broadcast-codebook
    assignment — the same probe/candidate relational shape as ivf_topk,
    fed by the scale-true assignment path."""
    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_ids=list(range(10)),
                    k=5, n_centroids=256, nprobe=32, method="broadcast")


def q_kmeans_codebook(spark, sf_dir):
    """Seeded distributed Lloyd's k-means codebook (8 centroids, 3
    iterations) in long format (cid, pos, val, n_members). Oracle: a
    Spark-free numpy twin (tools/make_goldens.py kmeans_twin) — every
    float op (sequential-fold cosine assignment, vec_id-ordered member
    sums) happens in a fixed order on both sides, so values are
    BIT-identical and returned raw."""
    return kmeans_codebook_table(spark, _t(spark, sf_dir, "embeddings"),
                                 n_centroids=8, n_iters=3, seed=0, sample_mod=1)


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas 2023): k-means clusters (the same
    8-centroid seeded codebook as `kmeans_codebook`), within-cluster
    exact round-6 cosine pairs at threshold 0.3, keep the member least
    similar to its centroid. Oracle: the identical decision table in
    DuckDB SQL, assignment CTEs shared with `ivf_topk_kmeans` (golden
    codebook parquet), loser rule as a CASE over (cent_sim, id)."""
    return semdedup(_t(spark, sf_dir, "embeddings"), n_centroids=8,
                    n_iters=3, seed=0, sample_mod=1, threshold=0.3)


def q_pq_codes(spark, sf_dir):
    """Product-quantization codes (m=8 subspaces x ksub=16): sample-
    bounded driver-side Lloyd's training, then zero-shuffle broadcast
    encode. Oracle: a Spark-free twin sharing kernel/pq_core.py verbatim
    (data/golden_pq_codes_sf0.01.parquet) — codes match exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, ksub=16, n_iters=5)
    return pq_encode(emb, books).transform(_ordered, "vec_id")


def q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k (the compressed-domain ANN serve
    path): per-query LUTs broadcast once, the scan reads 8-int codes
    instead of 64-float vectors, one ranking exchange. Oracle: the
    pq_twin golden (grid-snapped adist, neighbor-id ties)."""
    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, ksub=16, n_iters=5)
    return pq_adc_topk(emb, books, query_ids=list(range(10)), k=5) \
        .transform(_ordered, "query_id", "rank")


#: domain-mixture recipe shared by q_sample_mixture and its generated
#: oracle — single source of truth so the engines cannot drift
MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
MIX_TOTAL = 40


def q_sample_mixture(spark, sf_dir):
    """Deterministic domain-mixture sample (~40 docs at 50/30/20 across
    three sources): per-stratum keep rates from one count aggregate,
    membership by the same closed-form Knuth threshold as sample_hash —
    no shuffle, no RNG. Oracle recomputes the identical rates and hash
    membership (generated from the same MIX_WEIGHTS literal)."""
    return sample_mixture(_t(spark, sf_dir, "documents"), MIX_WEIGHTS,
                          MIX_TOTAL).transform(_ordered, "doc_id")


def q_ivfpq_topk(spark, sf_dir):
    """Full IVF-PQ serve path: coarse-route each query to its nprobe=2
    nearest inverted lists (coarse quantizer = Lloyd's on full vectors),
    then ADC-score only those lists' 8-int codes. At 100 TB the scan
    touches ~nprobe/n_centroids of a codes table m/d the size of the
    raw corpus. Oracle: kernel-twin golden
    (data/golden_ivfpq_sf0.01.parquet)."""
    emb = _t(spark, sf_dir, "embeddings")
    coarse, books = ivfpq_index(emb, n_centroids=8, m=8, ksub=16, n_iters=5)
    return ivfpq_topk(emb, coarse, books, query_ids=list(range(10)),
                      nprobe=2, k=5).transform(_ordered, "query_id", "rank")


def q_zorder_events(spark, sf_dir):
    """Z-order (Morton) clustering key over (ts, value) — the
    data-skipping layout pass (Delta/Iceberg OPTIMIZE ZORDER BY shape).
    Grid positions are one fixed double expression off a 2-row stats
    aggregate; the interleave is pure shiftleft/AND integer math, so the
    key is bit-identical in both engines at any parallelism. Timestamps
    ride exact integer microseconds (unix_micros == epoch_us)."""
    ev = _t(spark, sf_dir, "events")
    return zorder_key(ev, ["ts", "value"], bits=16) \
        .select("event_id", "z").transform(_ordered, "event_id")


def q_pca_project(spark, sf_dir):
    """Distributed PCA: exact-integer moment pass (mapInPandas partials
    SUM-merged in decimal(38,0) — bit-identical loadings at any
    parallelism), driver eigh with a fixed sign convention, then a
    zero-shuffle sequential-fold projection onto the top-4 axes. Oracle:
    a Spark-free numpy twin (tools/make_goldens.py pca_twin,
    data/golden_pca_sf0.01.parquet) — identical quantization, exact-int
    combine, eigh, and fold order, so scores match bit-for-bit."""
    return pca_project(_t(spark, sf_dir, "embeddings"), k=4) \
        .transform(_ordered, "vec_id")


def q_ivf_topk_kmeans(spark, sf_dir):
    """IVF ANN top-k over a TRAINED codebook: k-means (8 centroids, 3
    iters) -> broadcast assignment -> probe 2 lists. Oracle: DuckDB
    rebuilds the codebook from the kmeans golden parquet (itself pinned
    bit-exact by the kmeans_codebook row + tests/test_goldens.py) and
    recomputes assignment/probes/top-k relationally — a full differential
    over the train-then-serve path."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = [(cid, vec, nrm) for cid, vec, nrm, _n in
          train_kmeans(emb, n_centroids=8, n_iters=3, seed=0, sample_mod=1)]
    return ivf_topk(emb, query_ids=list(range(10)), k=5, n_centroids=8,
                    nprobe=2, method="broadcast", codebook=cb)


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs: LSH candidates + exact cosine
    filter. Threshold 0.3 (not the 0.5 production default) because the
    synthetic embeddings' max pairwise cosine is ~0.48 — the query must
    exercise a non-empty emit path."""
    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def q_multimodal_resize(spark, sf_dir):
    """Nearest-neighbor resize to 8x8 over real decoded PPM pixels; the
    oracle recomputes the resized means from the synth closed form over
    the identical integer source-index set. sha1 (not SQL-derivable) is
    dropped for the compare but pinned in tests/test_multimodal.py."""
    media = synth_ppm_media(_t(spark, sf_dir, "documents"))
    return resize_images(media, 8, 8).drop("sha1")


def q_multimodal_frames(spark, sf_dir):
    """Frame sampling (every 2nd frame) over the synthetic raw-frame video
    container: real header parse + frame slicing in mapInPandas; per-frame
    channel means oracle-checked from the closed form."""
    media = synth_video_media(_t(spark, sf_dir, "documents"))
    return sample_frames(media, every_k=2).drop("sha1")


def q_multimodal_audio(spark, sf_dir):
    """Real RIFF/PCM WAV decode (header walk + frombuffer): sample rate,
    length, duration, mean, RMS per clip — all recomputable in SQL from
    the synth sample closed form."""
    media = synth_wav_media(_t(spark, sf_dir, "documents"))
    return audio_features(media).drop("sha1")


def q_multimodal_meta(spark, sf_dir):
    """Binary payload plumbing: bytes + sha256 via the media table wrap."""
    m = as_media_table(_t(spark, sf_dir, "documents"))
    return m.select("media_id", "n_bytes", F.sha2(F.col("payload"), 256).alias("payload_sha256"))


def q_multimodal_features(spark, sf_dir):
    """REAL image decode path (round-2 VERDICT task 2): deterministic P6
    PPM payloads per doc -> pure-numpy header parse + frombuffer decode ->
    width/height/per-channel means via mapInPandas. The pixel function is
    closed-form, so the oracle recomputes the identical means in SQL — a
    genuine differential on the decode/reshape/channel-order logic. Means
    are exact (integer sums < 2^53 in float64), no rounding needed."""
    media = synth_ppm_media(_t(spark, sf_dir, "documents"))
    return image_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b")


def q_events_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization of the events stream (30 min
    timeout): one shuffle — the per-session agg reuses the window's
    HashPartitioning(user_id) via the subset rule, no second exchange.
    Oracle: the identical lag/cumsum island construction in SQL; all
    outputs exact (timestamps, longs, µs-derived durations)."""
    return session_stats(_t(spark, sf_dir, "events"))


def q_multimodal_png(spark, sf_dir):
    """REAL compressed-image decode (closes round-3 VERDICT missing #3 for
    PNG): deterministic RGB8 PNGs per doc — row filters cycling all five
    PNG filter types, zlib-deflated — decoded by the pure-numpy chunk
    walk + CRC + inflate + unfilter path (multimodal.decode_png), then
    width/height/per-channel means via mapInPandas. Pixels share the PPM
    closed form, so the oracle recomputes identical means in SQL: the
    compression and filtering must invert EXACTLY for this row to pass."""
    media = synth_png_media(_t(spark, sf_dir, "documents"))
    return image_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b")


def q_multimodal_jpeg(spark, sf_dir):
    """REAL baseline-DCT JPEG decode (closes round-3 VERDICT missing #3
    for JPEG): each doc gets a deterministic JFIF synthesized in
    COEFFICIENT space at quality=100 (all-ones quant tables make the
    entropy+quant path exactly lossless), decoded by the pure-numpy
    kernel (kernel/jpeg.py: marker walk, stream-defined Huffman rebuild,
    run-length entropy decode, dequant, vectorized IDCT, YCbCr->RGB),
    then width/height/per-channel means via mapInPandas — no shuffle.
    The IDCT output is not SQL-expressible, so the oracle reads the
    Spark-free golden twin (tools/make_goldens.py::jpeg_twin, freshness-
    pinned by tests/test_goldens.py): a hash match proves the compressed
    bytes round-trip identically through the Spark mapInPandas path."""
    media = synth_jpeg_media(_t(spark, sf_dir, "documents"))
    return image_features(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b")


def _driver_order(names: list[str], root: str = REPO) -> list[str]:
    """``names`` re-ordered to lead with the queries a driver correctness
    run covered least recently.

    The round driver verifies a fixed-size PREFIX of queries(), so each
    name is keyed by the highest round N of the ``CORRECTNESS_r{N}.json``
    files under ``root`` that lists it (0 if none does) and the sort is
    stable: never-checked names first, then older before newer, ties in
    the order given. The full registry is value-verified every round
    regardless via tools/check_oracles.py -> CORRECTNESS_FULL_r{N}.json,
    which this rule ignores."""
    last: dict[str, int] = {}
    for fname in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            with open(os.path.join(root, fname)) as f:
                for name in json.load(f):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: last.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_<name>`` as ``{name: q_<name>}``, in driver
    order (_driver_order over definition order)."""
    defined = {k[2:]: fn for k, fn in globals().items() if k.startswith("q_")}
    return {name: defined[name] for name in _driver_order(list(defined))}


# ---------------------------------------------------------------------------
# oracles


def _tx_predict_oracle() -> str:
    """X(d) literals from the SAME kernel call q_tx_predict's operator
    makes; the SQL sum is left-associated in array order, matching the
    JVM fold exactly, and both sides round to 6dp."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.design import harmonic_design
    from yatsm_spark.operators.changescore import CONV_PARAMS

    t_day = pd.Timestamp(PREDICT_AT).timestamp() / 86400.0
    xd = harmonic_design(np.array([t_day]), order=CONV_PARAMS.harmonic_order,
                         period=CONV_PARAMS.period)[0]
    expr = " + ".join(f"coef_{j} * {float(x)!r}" for j, x in enumerate(xd))
    return f"""
        SELECT conv_id, segment_id::int AS segment_id,
               round({expr}, 6) AS predicted
        FROM read_parquet('{GOLDEN_SEG}')
    """


def _curate_oracle() -> str:
    """Staged replay of curate_corpus at bench_rate=0.05, n=3,
    threshold=0.2: each CTE is the same stage restricted to the prior
    stage's survivors. Hash threshold = int(0.05 * 2^32) = 214748364."""
    thr = 214748364
    norm = "lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
    return f"""
        WITH RECURSIVE
        q AS (
          SELECT doc_id,
                 (len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) >= 5
                  AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::double
                      / greatest(len(string_split_regex(trim(text),
                                     '[ \\t\\n\\x0B\\f\\r]+')), 1) >= 2.0
                  AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::double
                      / greatest(len(string_split_regex(trim(text),
                                     '[ \\t\\n\\x0B\\f\\r]+')), 1) <= 12.0
                  AND length(regexp_replace(text,
                        '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))::double
                      / greatest(length(text), 1) < 0.2) AS quality_keep
          FROM documents),
        train AS (SELECT doc_id FROM documents
                  WHERE NOT ((doc_id * 2654435761) % 4294967296 < {thr})),
        s1 AS (SELECT d.doc_id, d.text
               FROM documents d JOIN train USING (doc_id)
                    JOIN q USING (doc_id)
               WHERE q.quality_keep),
        fp AS (SELECT doc_id, md5({norm}) AS fp FROM s1),
        keep2 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
        s2 AS (SELECT s1.* FROM s1 JOIN keep2 USING (doc_id)),
        words AS (SELECT doc_id, string_split({norm}, ' ') AS ws FROM s2),
        sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
               FROM words,
                    unnest(generate_series(1, greatest(len(ws)-2, 1))) AS t(i)),
        freq AS (SELECT shingle FROM sh GROUP BY shingle
                 HAVING count(*) <= 1000),
        shf AS (SELECT sh.* FROM sh JOIN freq USING (shingle)),
        sizes AS (SELECT doc_id, count(*)::long AS sz FROM shf
                  GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         count(*)::long AS inter
                  FROM shf a JOIN shf b
                       ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (SELECT i.doc_a, i.doc_b
                  FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
                       JOIN sizes sb ON i.doc_b = sb.doc_id
                  WHERE round(i.inter::double / (sa.sz + sb.sz - i.inter), 6)
                        >= 0.2),
        edges AS (SELECT doc_a AS ea, doc_b AS eb FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (SELECT doc_id AS node, doc_id AS r FROM s2
                  UNION
                  SELECT reach.node, e.eb FROM reach
                  JOIN edges e ON e.ea = reach.r),
        keep3 AS (SELECT node AS doc_id FROM reach GROUP BY node
                  HAVING min(r) = node),
        toks AS (SELECT doc_id,
                        list_filter(regexp_split_to_array(lower(text),
                                    '[^a-z0-9]+'), x -> x <> '') AS t
                 FROM documents),
        grams AS (SELECT doc_id,
                         unnest(list_distinct(
                           [array_to_string(list_slice(t, i, i + 2), ' ')
                            for i in range(1, len(t) - 1)])) AS ngram
                  FROM toks WHERE len(t) >= 3),
        bgrams AS (SELECT DISTINCT ngram FROM grams
                   WHERE (doc_id * 2654435761) % 4294967296 < {thr}),
        hits AS (SELECT g.doc_id, count(*)::long AS n
                 FROM grams g JOIN bgrams USING (ngram)
                      JOIN keep3 k ON k.doc_id = g.doc_id
                 GROUP BY g.doc_id)
        SELECT d.doc_id::long AS doc_id,
               (t.doc_id IS NOT NULL) AS in_train,
               (t.doc_id IS NOT NULL AND q.quality_keep) AS quality_keep,
               (k2.doc_id IS NOT NULL) AS exact_kept,
               (k3.doc_id IS NOT NULL) AS neardup_kept,
               coalesce(h.n, 0)::long AS n_contaminated_ngrams,
               (k3.doc_id IS NOT NULL AND coalesce(h.n, 0) = 0) AS kept
        FROM documents d
        LEFT JOIN train t USING (doc_id)
        JOIN q USING (doc_id)
        LEFT JOIN keep2 k2 ON k2.doc_id = d.doc_id
        LEFT JOIN keep3 k3 ON k3.doc_id = d.doc_id
        LEFT JOIN hits h ON h.doc_id = d.doc_id
    """


def _mixture_oracle() -> str:
    """Generated from the SAME MIX_WEIGHTS/MIX_TOTAL literals the Spark
    query uses: identical rate arithmetic ((total * frac) / n in one
    double expression), identical Knuth threshold membership."""
    wsum = sum(MIX_WEIGHTS.values())
    fracs = ", ".join(f"('{s}', {w / wsum!r})"
                      for s, w in sorted(MIX_WEIGHTS.items()))
    srcs = ", ".join(f"'{s}'" for s in sorted(MIX_WEIGHTS))
    return f"""
        WITH n AS (
          SELECT source, count(*)::BIGINT AS n FROM documents
          WHERE source IN ({srcs}) GROUP BY source),
        r AS (
          SELECT n.source,
                 least(1.0, ({MIX_TOTAL} * w.frac) / n.n) AS mix_rate
          FROM n JOIN (VALUES {fracs}) AS w(source, frac)
          ON n.source = w.source)
        SELECT d.source, d.doc_id, d.text, d.lang, d.n_chars, r.mix_rate
        FROM documents d JOIN r ON d.source = r.source
        WHERE (d.doc_id * 2654435761) % 4294967296
              < floor(r.mix_rate * 4294967296.0)
        ORDER BY d.doc_id
    """


def _zorder_oracle() -> str:
    """Morton-key twin: identical grid formula (one fixed double
    expression off the global min/max) and the identical bit interleave,
    generated from the same (bits=16, 2 cols) shape the Spark query
    uses."""
    terms = " + ".join(f"(((g{i} >> {b}) & 1) << {b * 2 + i})"
                       for b in range(16) for i in range(2))
    return f"""
        WITH st AS (
          SELECT min(epoch_us(ts))::double AS lo0,
                 max(epoch_us(ts))::double AS hi0,
                 min(value::double) AS lo1,
                 max(value::double) AS hi1
          FROM events),
        g AS (
          SELECT event_id,
                 least(greatest(floor((epoch_us(ts)::double - lo0) * 65535
                                      / (hi0 - lo0))::bigint, 0),
                       65535) AS g0,
                 least(greatest(floor((value::double - lo1) * 65535
                                      / (hi1 - lo1))::bigint, 0),
                       65535) AS g1
          FROM events, st)
        SELECT event_id, ({terms})::bigint AS z
        FROM g ORDER BY event_id
    """


def _hll_oracle() -> str:
    """HLL oracle generated from the SAME constants the Spark operator
    uses (m, K, linear-counting threshold) — repr() of the K double is
    parsed back to the identical IEEE value by DuckDB."""
    from yatsm_spark.operators.sketches import HLL_M, _HLL_K, _HLL_SMALL

    return f"""
        WITH h AS (SELECT source, md5(text) AS h FROM documents
                   WHERE text IS NOT NULL),
        r AS (SELECT source,
                     ('0x' || substr(h, 1, 3))::BIGINT AS bucket,
                     ('0x' || substr(h, 4, 15))::BIGINT AS w
              FROM h),
        reg AS (SELECT source, bucket,
                       max(CASE WHEN w = 0 THEN 61
                                ELSE 61 - length(bin(w)) END) AS register
                FROM r GROUP BY source, bucket),
        g AS (SELECT source, count(*)::long AS n_buckets_used,
                     ({HLL_M} - count(*))::long AS v_zero,
                     (sum(1::HUGEINT << (61 - register))
                      + ({HLL_M} - count(*))::HUGEINT
                        * (1::HUGEINT << 61))::DOUBLE AS numer
              FROM reg GROUP BY source)
        SELECT source, n_buckets_used, v_zero,
               floor((CASE WHEN {_HLL_K!r} / numer <= {_HLL_SMALL!r}
                                AND v_zero > 0
                      THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v_zero)
                      ELSE {_HLL_K!r} / numer END) * 1e6 + 0.5) / 1e6
                   AS est_distinct
        FROM g ORDER BY source
    """


def _hll_cascade_oracle() -> str:
    """Direct per-conv register build from raw turns — the Spark side
    MAX-merges per-(conv, role) registers instead; exact agreement
    proves HLL merge correctness (registers are MAX-mergeable)."""
    from yatsm_spark.operators.sketches import HLL_M, _HLL_K, _HLL_SMALL

    tx = f"read_parquet('{TX_SF01}/*.parquet')"
    return f"""
        WITH h AS (SELECT conv_id, md5(text) AS h FROM {tx}
                   WHERE text IS NOT NULL),
        r AS (SELECT conv_id,
                     ('0x' || substr(h, 1, 3))::BIGINT AS bucket,
                     ('0x' || substr(h, 4, 15))::BIGINT AS w
              FROM h),
        reg AS (SELECT conv_id, bucket,
                       max(CASE WHEN w = 0 THEN 61
                                ELSE 61 - length(bin(w)) END) AS register
                FROM r GROUP BY conv_id, bucket),
        g AS (SELECT conv_id, count(*)::long AS n_buckets_used,
                     ({HLL_M} - count(*))::long AS v_zero,
                     (sum(1::HUGEINT << (61 - register))
                      + ({HLL_M} - count(*))::HUGEINT
                        * (1::HUGEINT << 61))::DOUBLE AS numer
              FROM reg GROUP BY conv_id)
        SELECT conv_id, n_buckets_used, v_zero,
               floor((CASE WHEN {_HLL_K!r} / numer <= {_HLL_SMALL!r}
                                AND v_zero > 0
                      THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / v_zero)
                      ELSE {_HLL_K!r} / numer END) * 1e6 + 0.5) / 1e6
                   AS est_distinct
        FROM g ORDER BY conv_id
    """


def _pii_redact_oracle() -> str:
    """Patterns and placeholder chain generated from the SAME
    PII_PATTERNS tuple the Spark operator uses — the two engines cannot
    drift apart silently."""
    from yatsm_spark.operators.textstats import PII_PATTERNS

    red = "text"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all(text, '{pat}'))::long AS n_{name}")
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::varchar || '@example.com'
                 || CASE WHEN doc_id % 2 = 0
                         THEN ' see https://ex.org/p/' || doc_id::varchar || '?q=1'
                         ELSE '' END
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' host 192.168.1.' || (doc_id % 250)::varchar
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN ' call +1 555 867 53' || (doc_id % 89 + 10)::varchar
                         ELSE '' END AS text
          FROM documents)
        SELECT doc_id::long AS doc_id, {', '.join(counts)},
               {red} AS redacted
        FROM aug
    """


#: GPT-2-style pretokenizer as a ready-quoted DuckDB string literal (the
#: leading apostrophe of the contraction branch is SQL-doubled). Kept out
#: of the f-string oracles because the regex's own {L}/{N} braces would
#: collide with format fields. Same pattern as textstats.BPE_REGEX.
_BPE_REGEX_SQL = ("'''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+"
                  "| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+'")


def oracle_sql() -> dict[str, str]:
    tx = f"read_parquet('{TX_SF01}/*.parquet')"
    slot_m = "to_timestamp((floor(epoch(ts)/60)*60)::bigint)::timestamp"
    slot_h = "to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)::timestamp"
    slot_d = "to_timestamp((floor(epoch(ts)/86400)*86400)::bigint)::timestamp"

    # word-shingle CTEs shared by dedup oracles
    shingles = """
        WITH words AS (
          SELECT doc_id,
                 string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS ws
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(ws[i:i+2], ' ') AS shingle
          FROM words, unnest(generate_series(1, greatest(len(ws)-2, 1))) AS t(i)
        )
    """

    norm = "lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"

    hex4 = ("((position(substr(md5(word),1,1) IN '0123456789abcdef')-1)*4096"
            " + (position(substr(md5(word),2,1) IN '0123456789abcdef')-1)*256"
            " + (position(substr(md5(word),3,1) IN '0123456789abcdef')-1)*16"
            " + (position(substr(md5(word),4,1) IN '0123456789abcdef')-1))")

    # tx_acf: per-lag fragments (lags 1..5), mirroring tsanalytics.acf's
    # n^2-cleared exact-moment formula — generated so the lag count stays
    # in one place.
    _acf_k = 5
    acf_lagsel = ", ".join(
        f"lag(x, {k}) OVER (PARTITION BY conv_id ORDER BY ws) AS g{k}"
        for k in range(1, _acf_k + 1))
    acf_peragg = ", ".join(
        f"sum(x*g{k})::hugeint AS p{k}, "
        f"sum(CASE WHEN g{k} IS NOT NULL THEN x END)::hugeint AS h{k}, "
        f"sum(g{k})::hugeint AS t{k}, count(g{k})::hugeint AS m{k}"
        for k in range(1, _acf_k + 1))
    acf_unions = " UNION ALL ".join(
        f"SELECT conv_id, n::long AS n_points, {k} AS lag, "
        f"CASE WHEN (n*n*sxx - n*sx*sx) > 0 AND m{k} > 0 THEN "
        f"floor(((n*n*coalesce(p{k},0) "
        f"- n*sx*(coalesce(h{k},0)+coalesce(t{k},0)) + m{k}*sx*sx)::double "
        f"/ ((n*n*sxx - n*sx*sx)::double)) * 1e6 + 0.5)/1e6 END AS acf "
        f"FROM m"
        for k in range(1, _acf_k + 1))

    # tx_ccf: per-lag fragments (lags -3..+3), mirroring tsanalytics.ccf.
    _ccf_k = 3
    ccf_lagsel = ", ".join(
        f"lag(x, {k}) OVER pw AS gx{k}, lag(y, {k}) OVER pw AS gy{k}"
        for k in range(1, _ccf_k + 1))
    ccf_peragg = ", ".join(
        f"sum(x*gy{k})::hugeint AS pp{k}, "
        f"sum(CASE WHEN gy{k} IS NOT NULL THEN x END)::hugeint AS hp{k}, "
        f"sum(gy{k})::hugeint AS tp{k}, count(gy{k})::hugeint AS mp{k}, "
        f"sum(gx{k}*y)::hugeint AS pn{k}, sum(gx{k})::hugeint AS hn{k}, "
        f"sum(CASE WHEN gx{k} IS NOT NULL THEN y END)::hugeint AS tn{k}, "
        f"count(gx{k})::hugeint AS mn{k}"
        for k in range(1, _ccf_k + 1))

    def _ccf_sel(lag_lit, p, hx, ty, mm):
        num = (f"(n*n*coalesce({p},0) - n*sx*coalesce({ty},0)"
               f" - n*sy*coalesce({hx},0) + {mm}*sx*sy)")
        return (
            f"SELECT conv_id, n::long AS n_points, {lag_lit} AS lag, "
            f"CASE WHEN (n*n*sxx - n*sx*sx) > 0"
            f" AND (n*n*syy - n*sy*sy) > 0 THEN "
            f"floor(({num}::double"
            f" / (sqrt((n*n*sxx - n*sx*sx)::double)"
            f" * sqrt((n*n*syy - n*sy*sy)::double))) * 1e6 + 0.5)/1e6"
            f" END AS ccf FROM m")

    ccf_unions = " UNION ALL ".join(
        [_ccf_sel(-k, f"pn{k}", f"hn{k}", f"tn{k}", f"mn{k}")
         for k in range(_ccf_k, 0, -1)]
        + [_ccf_sel(0, "p0", "sx", "sy", "n")]
        + [_ccf_sel(k, f"pp{k}", f"hp{k}", f"tp{k}", f"mp{k}")
           for k in range(1, _ccf_k + 1)])

    # shared SAX CTE body (dense 1m grid -> PAA -> letters), used by
    # tx_sax (long form) and tx_sax_neardups (word self-join)
    sax_body = """
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r0 AS (
              SELECT conv_id, {slot_m} AS ws, count(*)::hugeint AS x
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 MINUTE))
                       AS ws
              FROM spans),
            r AS (SELECT grid.conv_id, grid.ws,
                         coalesce(r0.x, 0)::hugeint AS x
                  FROM grid LEFT JOIN r0
                    ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws),
            ix AS (
              SELECT conv_id, x,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY ws) - 1 AS i,
                     count(*) OVER (PARTITION BY conv_id)::hugeint AS n,
                     sum(x) OVER (PARTITION BY conv_id)::hugeint AS sx,
                     sum(x*x) OVER (PARTITION BY conv_id)::hugeint AS sxx
              FROM r),
            sg AS (
              SELECT conv_id,
                     floor((i * 16)::double / n::double)::int AS seg,
                     count(*)::long AS n_in_seg,
                     sum(x)::hugeint AS sp,
                     min(n) AS n, min(sx) AS sx, min(sxx) AS sxx
              FROM ix GROUP BY 1, 2),
            fin AS (
              SELECT conv_id, seg, n_in_seg,
                     floor((sp::double / n_in_seg::double)
                           * 1e6 + 0.5)/1e6 AS paa,
                     floor((sx::double / n::double)
                           * 1e6 + 0.5)/1e6 AS mean,
                     floor(((n*sxx - sx*sx)::double / (n*n)::double)
                           * 1e6 + 0.5)/1e6 AS var
              FROM sg),
            lets AS (
              SELECT conv_id, seg, n_in_seg, paa,
                   CASE WHEN var > 0 THEN substr('abcd',
                     1 + (CASE WHEN (paa - mean)/sqrt(var) >= -0.6745
                               THEN 1 ELSE 0 END
                          + CASE WHEN (paa - mean)/sqrt(var) >= 0.0
                                 THEN 1 ELSE 0 END
                          + CASE WHEN (paa - mean)/sqrt(var) >= 0.6745
                                 THEN 1 ELSE 0 END), 1) END AS letter
              FROM fin)
    """.format(tx=tx, slot_m=slot_m)

    # tx_periodogram: per-period trig CASE fragments using the SAME
    # driver-snapped micro-unit tables as the Spark operator.
    from yatsm_spark.operators.tsanalytics import trig_micro_tables

    _pg_periods = (30, 60, 120, 240)

    def _pg_case(idx: int) -> str:
        branches = []
        for p in _pg_periods:
            tab = trig_micro_tables(p)[idx]
            lst = "[" + ",".join(map(str, tab)) + "]"
            branches.append(f"WHEN {p} THEN ({lst})[(slot % {p}) + 1]")
        return "CASE period " + " ".join(branches) + " END"

    pg_c, pg_s = _pg_case(0), _pg_case(1)
    pg_unnest = "[" + ",".join(map(str, _pg_periods)) + "]"

    # DSIR: shared weight CTE (hashed unigram+bigram buckets, add-one
    # smoothed target/source log-ratio in micro-units — dsir.py twin)
    hex4g = ("((position(substr(md5(gram),1,1) IN '0123456789abcdef')-1)*4096"
             " + (position(substr(md5(gram),2,1) IN '0123456789abcdef')-1)*256"
             " + (position(substr(md5(gram),3,1) IN '0123456789abcdef')-1)*16"
             " + (position(substr(md5(gram),4,1) IN '0123456789abcdef')-1))")
    dsir_cte = f"""
            WITH w AS (SELECT doc_id, (lang = 'en') AS is_tgt,
                              list_filter(string_split({norm}, ' '), x -> x <> '') AS ws
                       FROM documents),
            g AS (SELECT doc_id, is_tgt, unnest(ws) AS gram FROM w
                  UNION ALL
                  SELECT doc_id, is_tgt, ws[i] || ' ' || ws[i+1]
                  FROM w, unnest(generate_series(1, len(ws)-1)) AS t(i)),
            occ AS (SELECT doc_id, is_tgt, {hex4g}::long AS bucket FROM g),
            src AS (SELECT bucket, count(*)::long AS cs FROM occ GROUP BY 1),
            tgt AS (SELECT bucket, count(*)::long AS ct FROM occ WHERE is_tgt GROUP BY 1),
            tots AS (SELECT (SELECT sum(cs) FROM src) AS ts,
                            (SELECT coalesce(sum(ct), 0) FROM tgt) AS tt),
            dim AS (SELECT s.bucket,
                           floor(ln(((coalesce(t.ct,0)+1)::double * (ts::double + 65536.0))
                                    / ((s.cs+1)::double * (tt::double + 65536.0))) * 1e6 + 0.5)::long AS lr
                    FROM src s LEFT JOIN tgt t USING (bucket) CROSS JOIN tots),
            pd AS (SELECT o.doc_id, count(*)::long AS n_feats, sum(d.lr)::long AS lw
                   FROM occ o JOIN dim d USING (bucket) GROUP BY 1),
            wt AS (SELECT d.doc_id::long AS doc_id,
                          coalesce(pd.n_feats, 0)::long AS n_feats,
                          coalesce(pd.lw, 0)::long AS logw_micro,
                          round(coalesce(pd.lw, 0) / 1e6, 6) AS logw,
                          CASE WHEN pd.n_feats > 0
                               THEN round(pd.lw / 1e6 / pd.n_feats, 6) END AS logw_per_feat
                   FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id))
    """

    d = {
        "tx_rollup_1m": f"""
            SELECT conv_id, {slot_m} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_rollup_1m_salted": f"""
            SELECT conv_id, {slot_m} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_rollup_1m_adaptive": f"""
            SELECT conv_id, {slot_m} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_reconcile_merge": f"""
            SELECT conv_id, {slot_m} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_retention": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000050'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans),
            filled AS (
              SELECT g.conv_id, g.window_start,
                     coalesce(r.turn_count, 0)::long AS turn_count,
                     (r.conv_id IS NULL) AS gap_filled
              FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start),
            wm AS (SELECT conv_id,
                          to_timestamp((floor(epoch(max(window_start))/3600)*3600)::bigint)::timestamp
                            - INTERVAL 1 HOUR AS watermark,
                          max(window_start) AS maxws
                   FROM filled GROUP BY conv_id)
            SELECT f.conv_id, f.window_start, f.turn_count, f.gap_filled
            FROM filled f JOIN wm USING (conv_id)
            WHERE NOT (epoch(wm.maxws) - epoch(f.window_start) > 172800
                       AND f.window_start <= wm.watermark)
        """,
        "tx_gapfill_1m": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count,
                     sum(length(text))::long AS token_len_sum,
                     sum((tool IS NOT NULL)::int)::long AS tool_call_count
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans)
            SELECT g.conv_id, g.window_start,
                   coalesce(r.turn_count, 0)::long AS turn_count,
                   r.token_len_sum AS token_len_sum,
                   coalesce(r.tool_call_count, 0)::long AS tool_call_count,
                   (r.conv_id IS NULL) AS gap_filled
            FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start
        """,
        "tx_periodogram": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans),
            filled AS (
              SELECT g.conv_id,
                     floor(epoch(g.window_start)/60)::bigint AS slot,
                     coalesce(r.turn_count, 0)::bigint AS x
              FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start),
            e AS (SELECT conv_id, slot, x, unnest({pg_unnest}) AS period FROM filled),
            w AS (SELECT conv_id, period, x,
                         ({pg_c})::bigint AS c, ({pg_s})::bigint AS s
                  FROM e),
            a AS (SELECT conv_id, period,
                         count(*)::hugeint AS n, sum(x)::hugeint AS sx,
                         sum(x*x)::hugeint AS sxx,
                         sum(c)::hugeint AS sc, sum(s)::hugeint AS ss,
                         sum(x*c)::hugeint AS sxc, sum(x*s)::hugeint AS sxs,
                         (sum(c*c) + sum(s*s))::hugeint AS w2
                  FROM w GROUP BY 1, 2),
            p AS (SELECT conv_id, period,
                         CASE WHEN (n*sxx - sx*sx) > 0 AND n >= period*2 THEN
                           round(2.0 * ((n*sxc - sx*sc)::double * (n*sxc - sx*sc)::double
                                  + (n*sxs - sx*ss)::double * (n*sxs - sx*ss)::double)
                                 / ((n::double * (n*sxx - sx*sx)::double) * w2::double), 6)
                         END AS power
                  FROM a)
            SELECT conv_id, period::int AS period, power,
                   CASE WHEN power IS NOT NULL THEN
                     (row_number() OVER (PARTITION BY conv_id
                        ORDER BY power DESC NULLS LAST, period ASC) = 1)
                   ELSE FALSE END AS dominant
            FROM p
        """,
        "tx_locf": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count,
                     sum(length(text))::long AS token_len_sum
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans),
            filled AS (
              SELECT g.conv_id, g.window_start,
                     coalesce(r.turn_count, 0)::long AS turn_count,
                     r.token_len_sum AS token_len_sum,
                     (r.conv_id IS NULL) AS gap_filled
              FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start)
            SELECT conv_id, window_start, turn_count,
                   last_value(token_len_sum IGNORE NULLS) OVER (
                     PARTITION BY conv_id ORDER BY window_start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::long
                     AS token_len_sum,
                   gap_filled
            FROM filled
        """,
        # identical expression tree to interp_linear: integer-exact
        # operands, one double division, 1e-6 snap (round-half-up).
        "tx_interp": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count,
                     sum(length(text))::long AS token_len_sum
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans),
            filled AS (
              SELECT g.conv_id, g.window_start,
                     coalesce(r.turn_count, 0)::long AS turn_count,
                     r.token_len_sum AS token_len_sum,
                     (r.conv_id IS NULL) AS gap_filled
              FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start),
            marks AS (
              SELECT conv_id, window_start, turn_count, gap_filled,
                     token_len_sum,
                     epoch(window_start)::bigint AS s,
                     (last_value(token_len_sum IGNORE NULLS) OVER wp)::double AS pv,
                     last_value(CASE WHEN token_len_sum IS NOT NULL
                                     THEN epoch(window_start)::bigint END
                                IGNORE NULLS) OVER wp AS ps,
                     (first_value(token_len_sum IGNORE NULLS) OVER wn)::double AS nv,
                     first_value(CASE WHEN token_len_sum IS NOT NULL
                                      THEN epoch(window_start)::bigint END
                                 IGNORE NULLS) OVER wn AS ns
              FROM filled
              WINDOW wp AS (PARTITION BY conv_id ORDER BY window_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wn AS (PARTITION BY conv_id ORDER BY window_start
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT conv_id, window_start, turn_count,
                   CASE WHEN token_len_sum IS NOT NULL THEN token_len_sum::double
                        ELSE floor((pv + (nv - pv) *
                                    ((s - ps)::double / (ns - ps)::double))
                                   * 1e6 + 0.5) / 1e6 END AS token_len_sum,
                   gap_filled
            FROM marks
        """,
        "tx_counter_increase": f"""
            WITH r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM {tx} GROUP BY 1, 2),
            c AS (
              SELECT conv_id, window_start,
                     (sum(turn_count) OVER (
                        PARTITION BY conv_id ORDER BY window_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      % 512)::long AS counter
              FROM r),
            d AS (
              SELECT conv_id, counter,
                     lag(counter) OVER (
                       PARTITION BY conv_id ORDER BY window_start) AS prev
              FROM c)
            SELECT conv_id,
                   sum(CASE WHEN prev IS NULL THEN 0
                            WHEN counter >= prev THEN counter - prev
                            ELSE counter END)::long AS total_increase,
                   count(*)::long AS n_points
            FROM d GROUP BY conv_id ORDER BY conv_id
        """,
        "tx_twa": f"""
            WITH r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     sum(length(text))::long AS token_len_sum
              FROM {tx} GROUP BY 1, 2),
            d AS (
              SELECT conv_id, token_len_sum,
                     lead(epoch(window_start)::bigint) OVER w
                       - epoch(window_start)::bigint AS dur
              FROM r WINDOW w AS (PARTITION BY conv_id ORDER BY window_start))
            SELECT conv_id,
                   floor((sum(token_len_sum * dur)::double
                          / sum(dur)::double) * 1e6 + 0.5) / 1e6 AS twa,
                   sum(dur)::long AS span_secs
            FROM d GROUP BY conv_id ORDER BY conv_id
        """,
        "tx_holt": f"""
            WITH RECURSIVE
            t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r AS (
              SELECT conv_id, {slot_h} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            o AS (
              SELECT conv_id, window_start, turn_count,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY window_start) AS rn
              FROM r),
            e AS (
              SELECT conv_id, window_start, turn_count, rn,
                     turn_count::double AS level, 0.0::double AS trend
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.conv_id, o.window_start, o.turn_count, o.rn,
                     0.5 * o.turn_count::double
                       + 0.5 * (e.level + e.trend),
                     0.25 * ((0.5 * o.turn_count::double
                              + 0.5 * (e.level + e.trend)) - e.level)
                       + 0.75 * e.trend
              FROM o JOIN e ON o.conv_id = e.conv_id AND o.rn = e.rn + 1)
            SELECT conv_id, window_start, turn_count, level, trend
            FROM e ORDER BY conv_id, window_start
        """,
        "tx_holtwinters": f"""
            WITH RECURSIVE
            t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r0 AS (
              SELECT conv_id, {slot_h} AS ws, count(*)::long AS x
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                       AS ws
              FROM spans),
            o AS (
              SELECT conv_id, ws, x,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY ws) AS rn
              FROM (SELECT grid.conv_id, grid.ws,
                           coalesce(r0.x, 0)::long AS x
                    FROM grid LEFT JOIN r0
                      ON grid.conv_id = r0.conv_id
                     AND grid.ws = r0.ws)),
            -- seasonal ring: after row i the list holds the last 24
            -- seasonals [s_(i-23) .. s_i] (0.0 for j < 0), so the next
            -- row's s_prev = ring[1]; same recurrence order as the
            -- numpy kernel, so the raw doubles are bit-identical.
            e AS (
              SELECT conv_id, ws, x, rn,
                     x::double AS level, 0.0::double AS trend,
                     0.0::double AS seasonal,
                     list_append(list_transform(generate_series(1, 23),
                                                j -> 0.0::double),
                                 0.0::double) AS ring
              FROM o WHERE rn = 1
              UNION ALL
              SELECT conv_id, ws, x, rn, lv,
                     0.25*(lv - pl) + 0.75*pt AS trend,
                     0.25*(x::double - lv) + 0.75*sp AS seasonal,
                     list_append(ring[2:24],
                                 0.25*(x::double - lv) + 0.75*sp) AS ring
              FROM (
                SELECT o.conv_id, o.ws, o.x, o.rn,
                       e.ring AS ring, e.ring[1] AS sp,
                       e.level AS pl, e.trend AS pt,
                       0.5*(o.x::double - e.ring[1])
                         + 0.5*(e.level + e.trend) AS lv
                FROM o JOIN e
                  ON o.conv_id = e.conv_id AND o.rn = e.rn + 1))
            SELECT conv_id, ws AS window_start, x AS turn_count,
                   level, trend, seasonal
            FROM e ORDER BY conv_id, window_start
        """,
        "tx_dist_shift": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r0 AS (
              SELECT conv_id, {slot_m} AS ws, count(*)::hugeint AS x
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 MINUTE))
                       AS ws
              FROM spans),
            r AS (SELECT grid.conv_id, grid.ws,
                         coalesce(r0.x, 0)::hugeint AS x
                  FROM grid LEFT JOIN r0
                    ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws),
            ix AS (
              SELECT conv_id, x,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY ws) - 1 AS i,
                     count(*) OVER (PARTITION BY conv_id) AS n
              FROM r),
            h AS (
              SELECT conv_id, n,
                     CASE WHEN i < n//2 THEN 0 ELSE 1 END AS half,
                     least(x, 64) AS b
              FROM ix),
            g AS (
              SELECT conv_id, b, min(n) AS n,
                     sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                       ::hugeint AS o1,
                     sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                       ::hugeint AS o2
              FROM h GROUP BY 1, 2),
            tm AS (
              SELECT conv_id, n, (n//2)::hugeint AS n1,
                     (n - n//2)::hugeint AS n2, o1, o2
              FROM g),
            t6 AS (
              SELECT conv_id, n,
                     CASE WHEN n1 > 0 AND n2 > 0 THEN
                       floor(((o1*n2 - o2*n1)*(o1*n2 - o2*n1))::double
                             / (n1*n2*(o1 + o2))::double
                             * 1e6 + 0.5)::hugeint END AS term6
              FROM tm)
            SELECT conv_id, min(n)::long AS n_points,
                   (CASE WHEN min(n) >= 2
                         THEN count(*) - 1 END)::long AS dof,
                   CASE WHEN min(n) >= 2
                        THEN sum(term6)::double / 1e6 END AS chi2
            FROM t6 GROUP BY conv_id ORDER BY conv_id
        """,
        "tx_hw_backtest": f"""
            WITH RECURSIVE
            t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r0 AS (
              SELECT conv_id, {slot_h} AS ws, count(*)::long AS x
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                       AS ws
              FROM spans),
            o AS (
              SELECT conv_id, ws, x,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY ws) AS rn
              FROM (SELECT grid.conv_id, grid.ws,
                           coalesce(r0.x, 0)::long AS x
                    FROM grid LEFT JOIN r0
                      ON grid.conv_id = r0.conv_id
                     AND grid.ws = r0.ws)),
            e AS (
              SELECT conv_id, ws, x, rn,
                     x::double AS level, 0.0::double AS trend,
                     NULL::double AS fc,
                     list_append(list_transform(generate_series(1, 23),
                                                j -> 0.0::double),
                                 0.0::double) AS ring
              FROM o WHERE rn = 1
              UNION ALL
              SELECT conv_id, ws, x, rn, lv,
                     0.25*(lv - pl) + 0.75*pt AS trend,
                     (pl + pt) + sp AS fc,
                     list_append(ring[2:24],
                                 0.25*(x::double - lv) + 0.75*sp) AS ring
              FROM (
                SELECT o.conv_id, o.ws, o.x, o.rn,
                       e.ring AS ring, e.ring[1] AS sp,
                       e.level AS pl, e.trend AS pt,
                       0.5*(o.x::double - e.ring[1])
                         + 0.5*(e.level + e.trend) AS lv
                FROM o JOIN e
                  ON o.conv_id = e.conv_id AND o.rn = e.rn + 1)),
            m AS (
              SELECT conv_id, rn, x, fc,
                     x::double - fc AS err,
                     lag(x, 24) OVER (PARTITION BY conv_id
                                      ORDER BY rn) AS xlag
              FROM e),
            s AS (
              SELECT conv_id,
                     count(CASE WHEN rn >= 2 THEN 1 END)::hugeint AS ne,
                     sum(CASE WHEN rn >= 2 THEN
                       abs(floor(err*1e6 + 0.5)::hugeint) END) AS sae,
                     sum(CASE WHEN rn >= 2 THEN
                       floor(err*1e6 + 0.5)::hugeint
                         * floor(err*1e6 + 0.5)::hugeint END) AS ssq,
                     sum(CASE WHEN rn >= 2 THEN
                       floor((CASE WHEN abs(x::double) + abs(fc) = 0
                                   THEN 0.0
                                   ELSE 2.0*abs(err)
                                        / (abs(x::double) + abs(fc))
                              END)*1e6 + 0.5)::hugeint END) AS st,
                     sum(CASE WHEN rn > 24 THEN
                       abs(x - xlag)::hugeint END) AS snv,
                     count(CASE WHEN rn > 24 THEN 1 END)::hugeint AS nnv
              FROM m GROUP BY 1)
            SELECT conv_id, ne::long AS n_eval,
                   CASE WHEN ne > 0 THEN
                     floor((sae::double / (ne*1000000)::double)
                           * 1e6 + 0.5)/1e6 END AS mae,
                   CASE WHEN ne > 0 THEN
                     floor(sqrt(ssq::double
                                / (ne*1000000000000)::double)
                           * 1e6 + 0.5)/1e6 END AS rmse,
                   CASE WHEN ne > 0 THEN
                     floor((st::double / (ne*1000000)::double)
                           * 1e6 + 0.5)/1e6 END AS smape,
                   CASE WHEN ne > 0 AND snv > 0 THEN
                     floor(((sae*nnv)::double
                            / (ne*snv*1000000)::double)
                           * 1e6 + 0.5)/1e6 END AS mase
            FROM s ORDER BY conv_id
        """,
        "events_cohorts": f"""
            WITH s AS (
              SELECT user_id AS u,
                     floor(epoch_us(ts)::double / 604800000000)::long
                       AS p
              FROM events),
            cohorts AS (SELECT u, min(p) AS c FROM s GROUP BY 1),
            sizes AS (SELECT c, count(*)::long AS n_cohort
                      FROM cohorts GROUP BY 1),
            active AS (SELECT DISTINCT u, p FROM s),
            m AS (
              SELECT cohorts.c, (active.p - cohorts.c) AS period_offset,
                     count(*)::long AS n_active
              FROM active JOIN cohorts ON active.u = cohorts.u
              GROUP BY 1, 2)
            SELECT make_timestamp(m.c * 604800000000) AS cohort_start,
                   m.period_offset, m.n_active, sizes.n_cohort,
                   floor(m.n_active::double / sizes.n_cohort::double
                         * 1e6 + 0.5)/1e6 AS retention_rate
            FROM m JOIN sizes ON m.c = sizes.c
            ORDER BY cohort_start, period_offset
        """,
        "tx_realtime_view": f"""
            SELECT conv_id, {slot_m} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_route": f"""
            SELECT conv_id, {ROLE_COUNTS_SQL}
            FROM {tx}
            WHERE ts >= TIMESTAMP '2025-01-02 00:30:00'
              AND ts <  TIMESTAMP '2025-01-22 02:03:00'
            GROUP BY 1 ORDER BY conv_id
        """,
        "tx_route_chunks": f"""
            SELECT conv_id, {ROLE_COUNTS_SQL}
            FROM {tx}
            WHERE ts >= TIMESTAMP '2025-01-05 00:30:00'
              AND ts <  TIMESTAMP '2025-01-22 02:03:00'
            GROUP BY 1 ORDER BY conv_id
        """,
        "tx_compact": f"""
            SELECT conv_id, {ROLE_COUNTS_SQL}
            FROM {tx}
            WHERE ts >= TIMESTAMP '2025-01-05 00:30:00'
              AND ts <  TIMESTAMP '2025-01-22 02:03:00'
            GROUP BY 1 ORDER BY conv_id
        """,
        "events_funnel": f"""
            WITH s1 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t
                AND epoch_us(e.ts) <= epoch_us(s1.t) + 86400000000
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t
                AND epoch_us(e.ts) <= epoch_us(s2.t) + 86400000000
              GROUP BY 1),
            c AS (
              SELECT 1 AS step_ord, 'view' AS step,
                     (SELECT count(*) FROM s1)::long AS n_users
              UNION ALL SELECT 2, 'click',
                     (SELECT count(*) FROM s2)::long
              UNION ALL SELECT 3, 'purchase',
                     (SELECT count(*) FROM s3)::long),
            b AS (SELECT n_users AS n1 FROM c WHERE step_ord = 1)
            SELECT step_ord::int AS step_ord, step,
                   n_users::long AS n_users,
                   CASE WHEN n1 > 0 THEN
                     floor(n_users::double / n1::double * 1e6 + 0.5)/1e6
                   END AS conv_rate
            FROM c, b ORDER BY step_ord
        """,
        "tx_left_profile": f"""
            SELECT conv_id, idx::long AS idx,
                   window_start::timestamp AS window_start,
                   lp::double AS lp, lp_idx::long AS lp_idx
            FROM read_parquet('{GOLDEN_LP}')
            ORDER BY conv_id, idx
        """,
        "tx_ab_profile": f"""
            SELECT conv_id, q_idx::long AS q_idx, c_idx::long AS c_idx,
                   window_start::timestamp AS window_start,
                   dist::double AS dist
            FROM read_parquet('{GOLDEN_AB}')
            ORDER BY conv_id
        """,
        "tx_swing": f"""
            SELECT conv_id, window_start::timestamp AS window_start,
                   turn_count::long AS turn_count, pos::long AS pos,
                   n_in::long AS n_in
            FROM read_parquet('{GOLDEN_SWING}')
            ORDER BY conv_id, pos
        """,
        "tx_topk_slots": f"""
            WITH r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM {tx} GROUP BY 1, 2),
            k AS (
              SELECT conv_id, window_start, turn_count,
                     row_number() OVER (
                       PARTITION BY conv_id
                       ORDER BY turn_count DESC, window_start ASC)
                       ::int AS rank
              FROM r)
            SELECT * FROM k WHERE rank <= 5
            ORDER BY conv_id, rank
        """,
        "tx_bursts": f"""
            SELECT conv_id, burst_ord::long AS burst_ord,
                   start_us::long AS start_us, end_us::long AS end_us,
                   burst_start::timestamp AS burst_start,
                   burst_end::timestamp AS burst_end,
                   n_events::long AS n_events
            FROM read_parquet('{GOLDEN_BURSTS}')
            ORDER BY conv_id, burst_ord
        """,
        "tx_dtw_rerank": f"""
            SELECT conv_a, conv_b, len_a::long AS len_a,
                   len_b::long AS len_b, dtw::long AS dtw
            FROM read_parquet('{GOLDEN_DTW}')
            ORDER BY conv_a, conv_b
        """,
        "tx_pelt": f"""
            SELECT conv_id, cp_ord::long AS cp_ord, idx::long AS idx,
                   window_start::timestamp AS window_start,
                   n_changepoints::long AS n_changepoints
            FROM read_parquet('{GOLDEN_PELT}')
            ORDER BY conv_id, cp_ord
        """,
        "tx_matrix_profile": f"""
            SELECT conv_id, idx::long AS idx,
                   window_start::timestamp AS window_start,
                   mp::double AS mp, mp_idx::long AS mp_idx
            FROM read_parquet('{GOLDEN_MP}')
            ORDER BY conv_id, idx
        """,
        "tx_mp_extrema": f"""
            WITH p AS (SELECT * FROM read_parquet('{GOLDEN_MP}')
                       WHERE mp IS NOT NULL),
            mo AS (
              SELECT conv_id, idx AS motif_idx, mp_idx AS motif_pair,
                     mp AS motif_dist,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY mp ASC, idx ASC) AS rk
              FROM p),
            di AS (
              SELECT conv_id, idx AS discord_idx, mp AS discord_dist,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY mp DESC, idx ASC) AS rk
              FROM p),
            nn AS (SELECT conv_id, count(*)::long AS n_windows
                   FROM p GROUP BY 1)
            SELECT nn.conv_id, mo.motif_idx::long AS motif_idx,
                   mo.motif_pair::long AS motif_pair,
                   mo.motif_dist::double AS motif_dist,
                   di.discord_idx::long AS discord_idx,
                   di.discord_dist::double AS discord_dist, nn.n_windows
            FROM nn
            JOIN mo ON nn.conv_id = mo.conv_id AND mo.rk = 1
            JOIN di ON nn.conv_id = di.conv_id AND di.rk = 1
            ORDER BY nn.conv_id
        """,
        "tx_theilsen": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r AS (
              SELECT conv_id, {slot_h} AS ws, count(*)::long AS x
              FROM t GROUP BY 1, 2),
            b AS (
              SELECT conv_id,
                     epoch(ws)::bigint
                       - min(epoch(ws)::bigint)
                           OVER (PARTITION BY conv_id) AS ts,
                     x
              FROM r),
            p AS (
              SELECT a.conv_id,
                     (b2.x - a.x)::double / (b2.ts - a.ts)::double AS sl
              FROM b a JOIN b b2
                ON a.conv_id = b2.conv_id AND a.ts < b2.ts),
            ps AS (
              SELECT conv_id, sl,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY sl) AS rn,
                     count(*) OVER (PARTITION BY conv_id) AS m
              FROM p),
            sm AS (SELECT conv_id, floor(sl*1e6 + 0.5)/1e6 AS slope
                   FROM ps WHERE rn = (m + 1)//2),
            res AS (
              SELECT b.conv_id, b.x::double - sm.slope * b.ts::double AS rv
              FROM b JOIN sm ON b.conv_id = sm.conv_id),
            rs AS (
              SELECT conv_id, rv,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY rv) AS rn,
                     count(*) OVER (PARTITION BY conv_id) AS m
              FROM res),
            ic AS (SELECT conv_id, floor(rv*1e6 + 0.5)/1e6 AS intercept
                   FROM rs WHERE rn = (m + 1)//2),
            nn AS (SELECT conv_id, count(*)::long AS n_points
                   FROM r GROUP BY 1)
            SELECT nn.conv_id, nn.n_points, sm.slope, ic.intercept
            FROM nn LEFT JOIN sm ON nn.conv_id = sm.conv_id
                    LEFT JOIN ic ON nn.conv_id = ic.conv_id
            ORDER BY nn.conv_id
        """,
        "tx_rate": f"""
            WITH r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM {tx} GROUP BY 1, 2),
            c AS (
              SELECT conv_id, window_start,
                     (sum(turn_count) OVER (
                        PARTITION BY conv_id ORDER BY window_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      % 512)::long AS counter
              FROM r),
            d AS (
              SELECT conv_id, epoch(window_start)::bigint AS secs, counter,
                     lag(counter) OVER (
                       PARTITION BY conv_id ORDER BY window_start) AS prev
              FROM c),
            agg AS (
              SELECT conv_id,
                     sum(CASE WHEN prev IS NULL THEN 0
                              WHEN counter >= prev THEN counter - prev
                              ELSE counter END)::long AS total_increase,
                     (max(secs) - min(secs))::long AS span_secs
              FROM d GROUP BY conv_id)
            SELECT conv_id,
                   CASE WHEN span_secs > 0 THEN
                     floor((total_increase::double / span_secs::double)
                           * 1e6 + 0.5) / 1e6
                   END AS rate,
                   total_increase, span_secs
            FROM agg ORDER BY conv_id
        """,
        "tx_deriv": f"""
            WITH r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     sum(length(text))::long AS token_len_sum
              FROM {tx} GROUP BY 1, 2),
            x AS (
              SELECT conv_id,
                     (epoch(window_start)::bigint
                      - min(epoch(window_start)::bigint)
                          OVER (PARTITION BY conv_id))::hugeint AS xs,
                     token_len_sum::hugeint AS ys
              FROM r),
            m AS (
              SELECT conv_id, count(*)::hugeint AS n,
                     sum(xs)::hugeint AS sx, sum(ys)::hugeint AS sy,
                     sum(xs * ys)::hugeint AS sxy,
                     sum(xs * xs)::hugeint AS sxx
              FROM x GROUP BY conv_id)
            SELECT conv_id, n::long AS n_points,
                   CASE WHEN (n * sxx - sx * sx) > 0 THEN
                     floor(((n * sxy - sx * sy)::double
                            / (n * sxx - sx * sx)::double)
                           * 1e6 + 0.5) / 1e6
                   END AS slope
            FROM m ORDER BY conv_id
        """,
        "tx_corr": f"""
            WITH r AS (
              SELECT conv_id, {slot_h} AS window_start,
                     count(*)::long AS x,
                     sum(length(text))::long AS y
              FROM {tx} GROUP BY 1, 2),
            m AS (
              SELECT conv_id, count(*)::hugeint AS n,
                     sum(x::hugeint)::hugeint AS sx,
                     sum(y::hugeint)::hugeint AS sy,
                     sum(x::hugeint * y::hugeint)::hugeint AS sxy,
                     sum(x::hugeint * x::hugeint)::hugeint AS sxx,
                     sum(y::hugeint * y::hugeint)::hugeint AS syy
              FROM r GROUP BY conv_id)
            SELECT conv_id, n::long AS n_points,
                   CASE WHEN (n * sxx - sx * sx) > 0
                         AND (n * syy - sy * sy) > 0 THEN
                     floor(((n * sxy - sx * sy)::double
                            / (sqrt((n * sxx - sx * sx)::double)
                               * sqrt((n * syy - sy * sy)::double)))
                           * 1e6 + 0.5) / 1e6
                   END AS corr
            FROM m ORDER BY conv_id
        """,
        "tx_anomaly": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            w AS (
              SELECT conv_id, window_start, turn_count,
                     count(turn_count) OVER pw AS n,
                     sum(turn_count::hugeint) OVER pw AS s,
                     sum(turn_count::hugeint * turn_count::hugeint)
                       OVER pw AS q
              FROM r
              WINDOW pw AS (PARTITION BY conv_id ORDER BY window_start
                            ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)),
            d AS (
              SELECT conv_id, window_start, turn_count, n,
                     (n::hugeint * turn_count::hugeint - s) AS dev,
                     (n::hugeint * q - s * s) AS var_n
              FROM w)
            SELECT conv_id, window_start, turn_count,
                   CASE WHEN n >= 8 THEN
                     CASE WHEN var_n > 0 THEN
                       dev * dev * (n::hugeint - 1) > 9 * n::hugeint * var_n
                     ELSE dev != 0 END
                   END AS is_anomaly,
                   CASE WHEN n >= 8 AND var_n > 0 THEN
                     floor((dev::double
                            * sqrt((n - 1)::double
                                   / (n::hugeint * var_n)::double))
                           * 1e6 + 0.5) / 1e6
                   END AS zscore
            FROM d ORDER BY conv_id, window_start
        """,
        "tx_alert_episodes": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            w AS (
              SELECT conv_id, window_start, turn_count,
                     count(turn_count) OVER pw AS n,
                     sum(turn_count::hugeint) OVER pw AS s,
                     sum(turn_count::hugeint * turn_count::hugeint)
                       OVER pw AS q
              FROM r
              WINDOW pw AS (PARTITION BY conv_id ORDER BY window_start
                            ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)),
            d AS (
              SELECT conv_id, window_start, turn_count, n,
                     (n::hugeint * turn_count::hugeint - s) AS dev,
                     (n::hugeint * q - s * s) AS var_n
              FROM w),
            f AS (
              SELECT conv_id, window_start, turn_count,
                     CASE WHEN n >= 8 THEN
                       CASE WHEN var_n > 0 THEN
                         dev * dev * (n::hugeint - 1)
                           > 9 * n::hugeint * var_n
                       ELSE dev != 0 END
                     END AS flag,
                     CASE WHEN n >= 8 AND var_n > 0 THEN
                       floor((dev::double
                              * sqrt((n - 1)::double
                                     / (n::hugeint * var_n)::double))
                             * 1e6 + 0.5) / 1e6
                     END AS z,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY window_start) AS rn_all
              FROM d),
            h AS (
              SELECT *, row_number() OVER (PARTITION BY conv_id
                                           ORDER BY window_start) AS rn_f
              FROM f WHERE flag),
            g AS (
              SELECT conv_id, rn_all - rn_f AS isl, window_start,
                     turn_count, z,
                     row_number() OVER (
                       PARTITION BY conv_id, rn_all - rn_f
                       ORDER BY coalesce(z, '-infinity'::double) DESC,
                                window_start DESC) AS pk
              FROM h)
            SELECT conv_id,
                   min(window_start) AS episode_start,
                   max(window_start) AS episode_end,
                   count(*)::long AS n_slots,
                   max(z) AS peak_zscore,
                   max(CASE WHEN pk = 1 THEN turn_count END) AS peak_value
            FROM g GROUP BY conv_id, isl
            ORDER BY conv_id, episode_start
        """,
        "tx_ohlc": f"""
            WITH r AS (
              SELECT conv_id, {slot_m} AS ws, count(*)::long AS v
              FROM {tx} GROUP BY 1, 2)
            SELECT conv_id,
                   to_timestamp((floor(epoch(ws)/3600)*3600)::bigint)
                     ::timestamp AS bucket_start,
                   arg_min(v, ws) AS open, max(v) AS high, min(v) AS low,
                   arg_max(v, ws) AS close, count(*)::long AS n_slots
            FROM r GROUP BY 1, 2 ORDER BY conv_id, bucket_start
        """,
        "tx_state_durations": f"""
            WITH s AS (
              SELECT conv_id, role AS state,
                     coalesce(lead(epoch_us(ts)) OVER pw, epoch_us(ts))
                       - epoch_us(ts) AS dur,
                     CASE WHEN lag(role) OVER pw IS DISTINCT FROM role
                          THEN 1 ELSE 0 END AS rs
              FROM {tx}
              WINDOW pw AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
            SELECT conv_id, state, sum(dur)::long AS total_us,
                   count(*)::long AS n_events, sum(rs)::long AS n_runs
            FROM s GROUP BY 1, 2 ORDER BY conv_id, state
        """,
        "tx_uptime": f"""
            WITH b AS (
              SELECT conv_id, epoch_us(ts) AS e,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                            OVER (PARTITION BY conv_id ORDER BY ts)
                            > 300000000
                          OR lag(ts) OVER (PARTITION BY conv_id
                                           ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS st
              FROM {tx}),
            i AS (
              SELECT conv_id, e,
                     sum(st) OVER (PARTITION BY conv_id ORDER BY e
                                   RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS isl
              FROM b),
            p AS (SELECT conv_id, isl, min(e) AS i0, max(e) AS i1
                  FROM i GROUP BY 1, 2)
            SELECT conv_id, count(*)::long AS n_intervals,
                   sum(i1 - i0)::long AS uptime_us,
                   (max(i1) - min(i0))::long AS span_us
            FROM p GROUP BY 1 ORDER BY conv_id
        """,
        "tx_acf": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r0 AS (
              SELECT conv_id, {slot_m} AS ws, count(*)::hugeint AS x
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 MINUTE))
                       AS ws
              FROM spans),
            r AS (SELECT grid.conv_id, grid.ws,
                         coalesce(r0.x, 0)::hugeint AS x
                  FROM grid LEFT JOIN r0
                    ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws),
            lg AS (SELECT conv_id, x, {acf_lagsel} FROM r),
            m AS (SELECT conv_id, count(*)::hugeint AS n,
                         sum(x)::hugeint AS sx,
                         sum(x*x)::hugeint AS sxx, {acf_peragg}
                  FROM lg GROUP BY 1)
            SELECT * FROM ({acf_unions}) ORDER BY conv_id, lag
        """,
        "tx_ccf": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r0 AS (
              SELECT conv_id, {slot_h} AS ws, count(*)::hugeint AS x,
                     sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
                       ::hugeint AS y
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                       AS ws
              FROM spans),
            r AS (SELECT grid.conv_id, grid.ws,
                         coalesce(r0.x, 0)::hugeint AS x,
                         coalesce(r0.y, 0)::hugeint AS y
                  FROM grid LEFT JOIN r0
                    ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws),
            lg AS (SELECT conv_id, x, y, {ccf_lagsel} FROM r
                   WINDOW pw AS (PARTITION BY conv_id ORDER BY ws)),
            m AS (SELECT conv_id, count(*)::hugeint AS n,
                         sum(x)::hugeint AS sx, sum(y)::hugeint AS sy,
                         sum(x*x)::hugeint AS sxx,
                         sum(y*y)::hugeint AS syy,
                         sum(x*y)::hugeint AS p0, {ccf_peragg}
                  FROM lg GROUP BY 1)
            SELECT * FROM ({ccf_unions}) ORDER BY conv_id, lag
        """,
        "tx_sax": f"""
            {sax_body}
            SELECT conv_id, seg, n_in_seg, paa, letter
            FROM lets ORDER BY conv_id, seg
        """,
        "tx_sax_neardups": f"""
            {sax_body},
            w AS (
              SELECT conv_id,
                     string_agg(letter, '' ORDER BY seg) AS sax_word
              FROM lets GROUP BY conv_id
              HAVING bool_and(letter IS NOT NULL)),
            w2 AS (
              SELECT * FROM w WHERE sax_word NOT IN (
                SELECT sax_word FROM w
                GROUP BY sax_word HAVING count(*) > 64))
            SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                   a.sax_word AS sax_word
            FROM w2 a JOIN w2 b
              ON a.sax_word = b.sax_word AND a.conv_id < b.conv_id
            ORDER BY conv_a, conv_b
        """,
        "tx_seasonal": f"""
            WITH t0 AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r0 AS (
              SELECT conv_id, {slot_h} AS ws, count(*)::hugeint AS x
              FROM t0 GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                      FROM r0 GROUP BY 1),
            grid AS (
              SELECT spans.conv_id,
                     unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                       AS ws
              FROM spans),
            r AS (SELECT grid.conv_id, grid.ws,
                         coalesce(r0.x, 0)::hugeint AS x
                  FROM grid LEFT JOIN r0
                    ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws),
            t AS (
              SELECT conv_id, ws, x,
                     (floor(epoch(ws)/3600)::bigint % 24)::int AS phase,
                     sum(x) OVER w1f AS s1, count(x) OVER w1f AS c1,
                     sum(x) OVER w2f AS s2, count(x) OVER w2f AS c2
              FROM r
              WINDOW w1f AS (PARTITION BY conv_id ORDER BY ws
                             ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
                     w2f AS (PARTITION BY conv_id ORDER BY ws
                             ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
            d AS (
              SELECT conv_id, ws, x, phase,
                     CASE WHEN c1 = 24 AND c2 = 24
                          THEN (s1 + s2)::hugeint END AS tr2p,
                     CASE WHEN c1 = 24 AND c2 = 24
                          THEN (48*x - (s1 + s2))::hugeint END AS d2p
              FROM t),
            f AS (
              SELECT conv_id, ws, x, phase, tr2p, d2p,
                     sum(d2p) OVER pp AS sp2,
                     count(d2p) OVER pp::hugeint AS cp
              FROM d
              WINDOW pp AS (PARTITION BY conv_id, phase))
            SELECT conv_id, ws AS window_start, x::long AS turn_count,
                   phase,
                   floor((tr2p::double / 48.0) * 1e6 + 0.5) / 1e6
                     AS trend,
                   CASE WHEN cp > 0 THEN
                     floor((sp2::double / (48*cp)::double) * 1e6 + 0.5)
                       / 1e6 END AS seasonal,
                   CASE WHEN d2p IS NOT NULL AND cp > 0 THEN
                     floor(((d2p*cp - sp2)::double / (48*cp)::double)
                           * 1e6 + 0.5) / 1e6 END AS resid
            FROM f ORDER BY conv_id, window_start
        """,
        "tx_hdr_cascade": f"""
            WITH b AS (
              SELECT conv_id,
                     (CASE WHEN x <= 3 THEN x
                           ELSE (length(bin(x)) - 2) * 4
                                + ((x >> (length(bin(x)) - 3)) & 3)
                      END)::int AS bucket
              FROM (SELECT conv_id, length(text)::BIGINT AS x FROM {tx}
                    WHERE text IS NOT NULL AND length(text) >= 0)),
            hist AS (SELECT conv_id, bucket, count(*)::long AS cnt
                     FROM b GROUP BY conv_id, bucket),
            cum AS (SELECT conv_id, bucket,
                           sum(cnt) OVER (PARTITION BY conv_id
                                          ORDER BY bucket) AS cum,
                           sum(cnt) OVER (PARTITION BY conv_id) AS n
                    FROM hist),
            q AS (SELECT * FROM (VALUES (1, 2, 'p50'), (9, 10, 'p90'),
                                        (99, 100, 'p99'))
                  AS t(qn, qd, q_label)),
            sel AS (
              SELECT c.conv_id, q.q_label, c.n,
                     (q.qn * c.n + q.qd - 1) // q.qd AS target_rank,
                     c.bucket
              FROM cum c CROSS JOIN q
              WHERE c.cum >= (q.qn * c.n + q.qd - 1) // q.qd),
            picked AS (
              SELECT conv_id, q_label, min(n)::long AS n,
                     min(target_rank)::long AS target_rank,
                     min(bucket)::int AS bucket
              FROM sel GROUP BY conv_id, q_label)
            SELECT conv_id, q_label, n, target_rank, bucket,
                   (CASE WHEN bucket <= 3 THEN bucket::BIGINT
                         ELSE (4 + bucket % 4)::BIGINT << (bucket // 4 - 1)
                    END) AS est_value
            FROM picked
        """,
        "tx_cascade_1h": f"""
            SELECT conv_id, {slot_h} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_cascade_1d": f"""
            SELECT conv_id, {slot_d} AS window_start, {ROLE_COUNTS_SQL}
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_derived_stats_1h": f"""
            SELECT conv_id, {slot_h} AS window_start,
                   count(*)::long AS turn_count,
                   round(avg(length(text))::double, 6) AS token_len_avg,
                   round(CASE WHEN count(*) > 1 THEN
                       sqrt(greatest((sum(length(text)*length(text))::long * count(*)
                             - sum(length(text))::long * sum(length(text))::long)::double, 0)
                            / (count(*)*count(*))::double) END, 6) AS token_len_std,
                   round(sum((tool IS NOT NULL)::int)::double / count(*), 6) AS tool_call_rate
            FROM {tx} GROUP BY 1, 2
        """,
        "tx_conv_hash": f"""
            SELECT conv_id,
                   sha256(string_agg(sha256(text), '' ORDER BY turn_idx)) AS conv_hash
            FROM {tx} WHERE conv_id < 'conv00000200' GROUP BY conv_id
        """,
        "tx_changemap": f"""
            SELECT conv_id, min(ts) AS first_ts, max(ts) AS last_ts,
                   count(*)::long AS n_turns
            FROM {tx} GROUP BY conv_id
        """,
        "tx_asof": f"""
            SELECT conv_id, turn_idx, role, ts FROM (
              SELECT conv_id, turn_idx, role, ts,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY ts DESC, turn_idx DESC) AS rn
              FROM {tx} WHERE ts <= TIMESTAMP '2025-01-16 00:00:00')
            WHERE rn = 1
        """,
        "tx_asof_tool": f"""
            WITH l AS (SELECT conv_id, turn_idx, ts FROM {tx}
                       WHERE role = 'tool'),
            r AS (SELECT conv_id, ts AS rts,
                         max(turn_idx)::int AS asst_turn
                  FROM {tx} WHERE role = 'assistant'
                  GROUP BY conv_id, ts)
            SELECT l.conv_id, l.turn_idx, l.ts,
                   CASE WHEN epoch_us(l.ts) - epoch_us(r.rts)
                             <= 600 * 1000000
                        THEN r.rts END AS matched_ts,
                   CASE WHEN epoch_us(l.ts) - epoch_us(r.rts)
                             <= 600 * 1000000
                        THEN r.asst_turn END AS asst_turn
            FROM l ASOF LEFT JOIN r
              ON l.conv_id = r.conv_id AND l.ts >= r.rts
            ORDER BY l.conv_id, l.turn_idx
        """,
        "tx_asof_next": f"""
            WITH l AS (SELECT conv_id, turn_idx, ts FROM {tx}
                       WHERE role = 'tool'),
            r AS (SELECT conv_id, ts AS rts,
                         max(turn_idx)::int AS next_user_turn
                  FROM {tx} WHERE role = 'user'
                  GROUP BY conv_id, ts)
            SELECT l.conv_id, l.turn_idx, l.ts, r.rts AS matched_ts,
                   r.next_user_turn
            FROM l ASOF LEFT JOIN r
              ON l.conv_id = r.conv_id AND l.ts <= r.rts
            ORDER BY l.conv_id, l.turn_idx
        """,
        "tx_hll_cascade": _hll_cascade_oracle(),
        "tx_interval_join": f"""
            WITH iv AS (
              SELECT conv_id AS iv_conv, min(ts) AS iv_start,
                     min(ts) + INTERVAL 10 MINUTE AS iv_end
              FROM {tx} WHERE tool IS NOT NULL GROUP BY conv_id)
            SELECT t.conv_id, count(*)::long AS n_turns_in_window,
                   sum(length(t.text))::long AS token_len_in_window
            FROM {tx} t JOIN iv ON t.conv_id = iv.iv_conv
                 AND t.ts >= iv.iv_start AND t.ts <= iv.iv_end
            GROUP BY t.conv_id
        """,
        "tx_phenology": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans),
            filled AS (
              SELECT g.conv_id, g.window_start,
                     coalesce(r.turn_count, 0)::long AS y
              FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start),
            hourly AS (
              SELECT conv_id, date_part('hour', window_start)::int AS hour,
                     count(*)::long AS c, sum(y)::long AS s,
                     sum(y*y)::long AS ss
              FROM filled GROUP BY 1, 2),
            prof AS (
              SELECT *, s::double / c::double AS p,
                     max(s::double / c::double) OVER (PARTITION BY conv_id) AS maxp,
                     min(s::double / c::double) OVER (PARTITION BY conv_id) AS minp
              FROM hourly),
            agg AS (
              SELECT conv_id,
                     min(CASE WHEN p = maxp THEN hour END)::int AS peak_hour,
                     round(max(p), 6) AS peak_rate,
                     round(min(p), 6) AS trough_rate,
                     min(CASE WHEN p >= (maxp + minp) / 2.0 THEN hour END)::int AS rise_hour,
                     max(CASE WHEN p >= (maxp + minp) / 2.0 THEN hour END)::int AS fall_hour,
                     sum(c)::long AS n, sum(s)::long AS sy, sum(ss)::long AS syy,
                     sum(c::double * p) AS sp,
                     sum(c::double * p * p) AS spp,
                     sum(p * s::double) AS syp
              FROM prof GROUP BY conv_id)
            SELECT conv_id, peak_hour, peak_rate, trough_rate, rise_hour, fall_hour,
                   CASE WHEN (n::double*syy::double - sy::double*sy::double) > 0
                         AND (n::double*spp - sp*sp) > 0
                        THEN round((n::double*syp - sy::double*sp)
                                   / sqrt((n::double*syy::double - sy::double*sy::double)
                                          * (n::double*spp - sp*sp)), 6)
                        ELSE 0.0 END AS pheno_cor,
                   n AS pheno_nobs
            FROM agg
        """,
        "tx_codec_roundtrip": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000050'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count,
                     sum(length(text))::long AS token_len_sum,
                     min(length(text))::long AS token_len_min,
                     max(length(text))::long AS token_len_max
              FROM t GROUP BY 1, 2),
            spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
                      FROM r GROUP BY conv_id),
            grid AS (SELECT conv_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
                     FROM spans)
            SELECT g.conv_id, g.window_start,
                   coalesce(r.turn_count, 0)::long AS turn_count,
                   r.token_len_sum, r.token_len_min, r.token_len_max,
                   (r.conv_id IS NULL) AS gap_filled
            FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id AND g.window_start = r.window_start
        """,
        "events_rollup_1m": """
            SELECT user_id,
                   to_timestamp((floor(epoch(ts)/60)*60)::bigint)::timestamp AS window_start,
                   count(*)::long AS n_events,
                   sum(round(value*100)::long)::long AS value_sum_cents,
                   min(round(value*100)::long)::long AS value_min_cents,
                   max(round(value*100)::long)::long AS value_max_cents
            FROM events GROUP BY 1, 2
        """,
        "events_cascade_1h": """
            SELECT user_id,
                   to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)::timestamp AS window_start,
                   count(*)::long AS n_events,
                   sum(round(value*100)::long)::long AS value_sum_cents,
                   min(round(value*100)::long)::long AS value_min_cents,
                   max(round(value*100)::long)::long AS value_max_cents
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH o AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                  > 1800 * 1000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT *, (sum(brk) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) - 1)::long AS session_idx
              FROM o)
            SELECT user_id, session_idx,
                   min(ts)::timestamp AS session_start,
                   max(ts)::timestamp AS session_end,
                   count(*)::long AS n_events,
                   count(DISTINCT event_type)::long AS n_event_types,
                   ((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6) AS duration_s
            FROM s GROUP BY user_id, session_idx
        """,
        "events_gapfill_1h": """
            WITH e AS (SELECT * FROM events WHERE user_id < 30),
            r AS (
              SELECT user_id,
                     to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)::timestamp AS window_start,
                     count(*)::long AS n_events
              FROM e GROUP BY 1, 2),
            spans AS (SELECT user_id, min(window_start) mn, max(window_start) mx FROM r GROUP BY user_id),
            grid AS (SELECT user_id,
                            unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS window_start
                     FROM spans)
            SELECT g.user_id, g.window_start,
                   coalesce(r.n_events, 0)::long AS n_events,
                   (r.user_id IS NULL) AS gap_filled
            FROM grid g LEFT JOIN r ON g.user_id = r.user_id AND g.window_start = r.window_start
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::long)::long AS sum_qty,
                   sum(round(l_extendedprice*100)::long)::long AS sum_base_cents,
                   sum(round(l_extendedprice*100)::long * (100 - round(l_discount*100)::long))::long AS sum_disc_e4,
                   count(*)::long AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "orders_changemap": """
            SELECT o_custkey, min(o_orderdate) AS first_order,
                   max(o_orderdate) AS last_order, count(*)::long AS num_orders
            FROM orders GROUP BY o_custkey
        """,
        "orders_asof": """
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM (
              SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) rn
              FROM orders WHERE o_orderdate <= TIMESTAMP '1997-01-01')
            WHERE rn = 1
        """,
        "orders_pairing": """
            SELECT o_custkey, o_orderkey, o_orderdate,
                   lead(o_orderkey) OVER w AS next_orderkey,
                   lead(o_orderdate) OVER w AS next_orderdate,
                   datediff('day', o_orderdate, lead(o_orderdate) OVER w)::int AS gap_days
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "region_rollup": """
            SELECT r_name, count(*)::long AS n_customers,
                   sum(round(c_acctbal*100)::long)::long AS acctbal_sum_cents
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                 JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name
        """,
        "order_lineitem_interval": """
            SELECT o_orderkey, count(*)::long AS n_shipped_30d
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                 AND l.l_shipdate >= o.o_orderdate
                 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
            GROUP BY o_orderkey
        """,
        "top_customers": """
            SELECT c_mktsegment, rank, c_custkey, round(c_acctbal*100)::long AS acctbal_cents
            FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                         row_number() OVER (PARTITION BY c_mktsegment
                                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
                  FROM customer)
            WHERE rank <= 3
        """,
        "dedup_exact": f"""
            SELECT md5({norm}) AS fp, min(doc_id)::long AS keeper_doc_id,
                   count(*)::long AS n_copies
            FROM documents GROUP BY 1
        """,
        "minhash_sigs": shingles + """
            SELECT doc_id,
                   min(md5('0' || '|' || shingle)) AS sig_0,
                   min(md5('1' || '|' || shingle)) AS sig_1,
                   min(md5('2' || '|' || shingle)) AS sig_2,
                   min(md5('3' || '|' || shingle)) AS sig_3
            FROM sh GROUP BY doc_id
        """,
        "minhash_pairs": shingles + """
            , sig AS (
              SELECT doc_id,
                     min(md5('0' || '|' || shingle)) AS sig_0,
                     min(md5('1' || '|' || shingle)) AS sig_1,
                     min(md5('2' || '|' || shingle)) AS sig_2,
                     min(md5('3' || '|' || shingle)) AS sig_3
              FROM sh GROUP BY doc_id),
            banded0 AS (
              SELECT doc_id, '0_' || sig_0 || '_' || sig_1 AS band_key FROM sig
              UNION ALL
              SELECT doc_id, '1_' || sig_2 || '_' || sig_3 AS band_key FROM sig),
            bandok AS (SELECT band_key FROM banded0 GROUP BY band_key
                       HAVING count(*) <= 1000),
            banded AS (SELECT banded0.* FROM banded0 JOIN bandok USING (band_key))
            SELECT DISTINCT a.doc_id::long AS doc_a, b.doc_id::long AS doc_b
            FROM banded a JOIN banded b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        """,
        "dup_ngram_spans": """
            WITH words AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
              FROM documents),
            base AS (SELECT doc_id, w, len(w)::int AS n_words,
                            (greatest(len(w) - 5, 0) + 1)::int AS n_grams
                     FROM words),
            g AS (SELECT doc_id, n_words, (i - 1)::int AS pos,
                         array_to_string(w[i:i+4], ' ') AS gram
                  FROM base, unnest(generate_series(1, greatest(len(w) - 5, 0) + 1)) AS t(i)),
            dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            d AS (SELECT g.doc_id, g.pos,
                         least(g.pos + 5, g.n_words)::int AS e
                  FROM g JOIN dupg USING (gram)),
            isl AS (SELECT doc_id, pos, e,
                           CASE WHEN pos > coalesce(max(e) OVER (
                                  PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                                THEN 1 ELSE 0 END AS brk
                    FROM d),
            isl2 AS (SELECT *, sum(brk) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS iid
                     FROM isl),
            per_island AS (SELECT doc_id, iid, min(pos) AS a, max(e) AS b,
                                  count(*) AS c
                           FROM isl2 GROUP BY 1, 2),
            per_doc AS (SELECT doc_id, sum(c)::long AS n_dup_grams,
                               sum(b - a)::long AS covered_tokens
                        FROM per_island GROUP BY 1)
            SELECT b2.doc_id, b2.n_words, b2.n_grams,
                   coalesce(p.n_dup_grams, 0)::long AS n_dup_grams,
                   coalesce(p.covered_tokens, 0)::long AS covered_tokens,
                   round(coalesce(p.n_dup_grams, 0)::double / b2.n_grams, 6) AS dup_ratio
            FROM base b2 LEFT JOIN per_doc p USING (doc_id)
        """,
        "remove_dup_spans": """
            WITH words AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
              FROM documents),
            base AS (SELECT doc_id, w, len(w)::int AS n_words FROM words),
            g AS (SELECT doc_id, n_words, (i - 1)::int AS pos,
                         array_to_string(w[i:i+4], ' ') AS gram
                  FROM base, unnest(generate_series(1, greatest(len(w) - 5, 0) + 1)) AS t(i)),
            dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            d AS (SELECT g.doc_id, g.pos,
                         least(g.pos + 5, g.n_words)::int AS e
                  FROM g JOIN dupg USING (gram)),
            isl AS (SELECT doc_id, pos, e,
                           CASE WHEN pos > coalesce(max(e) OVER (
                                  PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                                THEN 1 ELSE 0 END AS brk
                    FROM d),
            isl2 AS (SELECT *, sum(brk) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS iid
                     FROM isl),
            per_island AS (SELECT doc_id, iid, min(pos) AS a, max(e) AS b
                           FROM isl2 GROUP BY 1, 2),
            pos_all AS (SELECT doc_id, w, n_words, (i - 1)::int AS p
                        FROM base, unnest(generate_series(1, n_words)) AS t(i)),
            kept AS (SELECT pa.doc_id, pa.p, pa.w[pa.p + 1] AS word
                     FROM pos_all pa
                     WHERE NOT EXISTS (SELECT 1 FROM per_island pi
                                       WHERE pi.doc_id = pa.doc_id
                                         AND pa.p >= pi.a AND pa.p < pi.b)),
            agg AS (SELECT doc_id, count(*)::long AS n_kept,
                           string_agg(word, ' ' ORDER BY p) AS clean_text
                    FROM kept GROUP BY 1)
            SELECT b2.doc_id::long AS doc_id,
                   b2.n_words::long AS n_words,
                   (b2.n_words - coalesce(a.n_kept, 0))::long AS removed_tokens,
                   coalesce(a.clean_text, '') AS clean_text
            FROM base b2 LEFT JOIN agg a USING (doc_id)
        """,
        "ngram_jaccard": shingles + """
            , freq AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            shf AS (SELECT sh.* FROM sh JOIN freq USING (shingle)),
            sizes AS (SELECT doc_id, count(*)::long AS sz FROM shf GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::long AS inter
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT i.doc_a::long AS doc_a, i.doc_b::long AS doc_b, i.inter,
                   round(i.inter::double / (sa.sz + sb.sz - i.inter), 6) AS jaccard
            FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
                 JOIN sizes sb ON i.doc_b = sb.doc_id
            WHERE round(i.inter::double / (sa.sz + sb.sz - i.inter), 6) >= 0.2
        """,
        # Ground truth for the star-contraction CC operator: min REACHABLE
        # id per node via a recursive CTE over the identical pair SQL
        # (shingles CTE reused; DuckDB wants RECURSIVE declared on the
        # first WITH, which covers the non-recursive CTEs too).
        "dedup_components": shingles.replace("WITH ", "WITH RECURSIVE ", 1) + """
            , freq AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
            shf AS (SELECT sh.* FROM sh JOIN freq USING (shingle)),
            sizes AS (SELECT doc_id, count(*)::long AS sz FROM shf GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::long AS inter
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT i.doc_a, i.doc_b
              FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
                   JOIN sizes sb ON i.doc_b = sb.doc_id
              WHERE round(i.inter::double / (sa.sz + sb.sz - i.inter), 6) >= 0.2),
            edges AS (SELECT doc_a AS ea, doc_b AS eb FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT doc_id AS node, doc_id AS r FROM documents
              UNION
              SELECT reach.node, e.eb FROM reach JOIN edges e ON e.ea = reach.r)
            SELECT node::long AS doc_id, min(r)::long AS component_id,
                   (min(r) = node) AS is_canonical
            FROM reach GROUP BY node
        """,
        "simhash": f"""
            WITH w AS (
              SELECT DISTINCT doc_id,
                     unnest(string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) AS word
              FROM documents),
            h AS (SELECT doc_id, {hex4} AS hv FROM w),
            bits AS (
              SELECT doc_id, {' + '.join(
                  f"(CASE WHEN sum(CASE WHEN (hv // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << j} ELSE 0 END)"
                  for j in range(16))} AS simhash
              FROM h GROUP BY doc_id)
            SELECT doc_id::long AS doc_id, simhash::long AS simhash FROM bits
        """,
        "token_counts": """
            SELECT doc_id::long AS doc_id, length(text)::long AS n_chars,
                   len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))::long AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+'))::long
                       AS n_bpe_tokens,
                   ceil(length(text) / 4.0)::long AS n_bpe_est
            FROM documents
        """,
        # Real BPE, trained and applied entirely in SQL: the recursive CTE
        # carries every distinct pretoken's segmentation (rendered as a
        # chr(30)-framed string so replace() is exactly the kernel's
        # left-to-right non-overlapping pair merge); each step joins the
        # whole working set against its own pair counts to pick the best
        # pair (count DESC, left, right — the kernel's tie-break), stopping
        # at 48 merges or best count < 2. Final step's state per word IS
        # its BPE tokenization (training/apply consistency is a kernel
        # property, pinned in tests/test_bpe.py).
        "bpe_merges": f"""
            WITH RECURSIVE
            pre AS (
              SELECT unnest(regexp_extract_all(text, {_BPE_REGEX_SQL})) AS w
              FROM documents
            ),
            wc AS (SELECT w, count(*)::bigint AS cnt FROM pre WHERE w <> '' GROUP BY w),
            tr(step, w, cnt, s, ml, mr) AS (
              SELECT 0, w, cnt,
                     chr(30) || array_to_string(list_transform(
                       generate_series(1, length(w)), i -> substr(w, i, 1)), chr(30)) || chr(30),
                     NULL::VARCHAR, NULL::VARCHAR
              FROM wc
              UNION ALL
              SELECT step+1, tr.w, tr.cnt, replace(tr.s, b.pat, b.rep), b.l, b.r
              FROM tr, (
                SELECT l, r,
                       chr(30)||l||chr(30)||r||chr(30) AS pat,
                       chr(30)||l||r||chr(30) AS rep
                FROM (
                  SELECT toks[i] AS l, toks[i+1] AS r, sum(cnt) AS c
                  FROM (SELECT cnt, list_filter(string_split(s, chr(30)), x -> x <> '') AS toks FROM tr),
                       UNNEST(generate_series(1, len(toks)-1)) t(i)
                  GROUP BY 1, 2 HAVING sum(cnt) >= 2
                ) ORDER BY c DESC, l, r LIMIT 1
              ) b
              WHERE step < 48
            )
            SELECT step::int AS "rank", any_value(ml) AS "left", any_value(mr) AS "right"
            FROM tr WHERE step > 0 GROUP BY step
        """,
        "bpe_token_counts": f"""
            WITH RECURSIVE
            pre AS (
              SELECT doc_id::long AS doc_id,
                     unnest(regexp_extract_all(text, {_BPE_REGEX_SQL})) AS w
              FROM documents
            ),
            wc AS (SELECT w, count(*)::bigint AS cnt FROM pre WHERE w <> '' GROUP BY w),
            tr(step, w, cnt, s) AS (
              SELECT 0, w, cnt,
                     chr(30) || array_to_string(list_transform(
                       generate_series(1, length(w)), i -> substr(w, i, 1)), chr(30)) || chr(30)
              FROM wc
              UNION ALL
              SELECT step+1, tr.w, tr.cnt, replace(tr.s, b.pat, b.rep)
              FROM tr, (
                SELECT chr(30)||l||chr(30)||r||chr(30) AS pat,
                       chr(30)||l||r||chr(30) AS rep
                FROM (
                  SELECT toks[i] AS l, toks[i+1] AS r, sum(cnt) AS c
                  FROM (SELECT cnt, list_filter(string_split(s, chr(30)), x -> x <> '') AS toks FROM tr),
                       UNNEST(generate_series(1, len(toks)-1)) t(i)
                  GROUP BY 1, 2 HAVING sum(cnt) >= 2
                ) ORDER BY c DESC, l, r LIMIT 1
              ) b
              WHERE step < 48
            ),
            fin AS (
              SELECT w, len(list_filter(string_split(s, chr(30)), x -> x <> ''))::bigint AS n_tokens
              FROM (SELECT w, s, row_number() OVER (PARTITION BY w ORDER BY step DESC) AS rn FROM tr)
              WHERE rn = 1
            )
            SELECT pre.doc_id AS doc_id, count(*)::bigint AS n_pretokens,
                   sum(fin.n_tokens)::bigint AS n_bpe_real
            FROM pre JOIN fin ON pre.w = fin.w
            GROUP BY pre.doc_id
        """,
        # BPE-budget packing: the bpe_token_counts CTE chain feeds the
        # pack_docs recursive fold (dl = real BPE tokens, budget 256).
        "pack_docs_bpe": f"""
            WITH RECURSIVE
            pre AS (
              SELECT doc_id::long AS doc_id,
                     unnest(regexp_extract_all(text, {_BPE_REGEX_SQL})) AS w
              FROM documents
            ),
            wc AS (SELECT w, count(*)::bigint AS cnt FROM pre WHERE w <> '' GROUP BY w),
            tr(step, w, cnt, s) AS (
              SELECT 0, w, cnt,
                     chr(30) || array_to_string(list_transform(
                       generate_series(1, length(w)), i -> substr(w, i, 1)), chr(30)) || chr(30)
              FROM wc
              UNION ALL
              SELECT step+1, tr.w, tr.cnt, replace(tr.s, b.pat, b.rep)
              FROM tr, (
                SELECT chr(30)||l||chr(30)||r||chr(30) AS pat,
                       chr(30)||l||r||chr(30) AS rep
                FROM (
                  SELECT toks[i] AS l, toks[i+1] AS r, sum(cnt) AS c
                  FROM (SELECT cnt, list_filter(string_split(s, chr(30)), x -> x <> '') AS toks FROM tr),
                       UNNEST(generate_series(1, len(toks)-1)) t(i)
                  GROUP BY 1, 2 HAVING sum(cnt) >= 2
                ) ORDER BY c DESC, l, r LIMIT 1
              ) b
              WHERE step < 48
            ),
            fin AS (
              SELECT w, len(list_filter(string_split(s, chr(30)), x -> x <> ''))::bigint AS n_tokens
              FROM (SELECT w, s, row_number() OVER (PARTITION BY w ORDER BY step DESC) AS rn FROM tr)
              WHERE rn = 1
            ),
            dls AS (
              SELECT pre.doc_id, d.source, sum(fin.n_tokens)::bigint AS dl
              FROM pre JOIN fin ON pre.w = fin.w
              JOIN documents d ON d.doc_id = pre.doc_id
              GROUP BY pre.doc_id, d.source
            ),
            base AS (
              SELECT doc_id, source,
                     (((doc_id * 2654435761) % 4294967296) % 2)::int AS shard,
                     dl,
                     row_number() OVER (
                       PARTITION BY source,
                                    ((doc_id * 2654435761) % 4294967296) % 2
                       ORDER BY doc_id)::long AS rn
              FROM dls WHERE dl > 0),
            fold AS (
              SELECT doc_id, source, shard, dl, rn,
                     0::long AS bin_idx, 0::long AS bin_offset, dl AS fill
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.doc_id, b.source, b.shard, b.dl, b.rn,
                     CASE WHEN f.fill + b.dl > 256
                          THEN f.bin_idx + 1 ELSE f.bin_idx END,
                     CASE WHEN f.fill + b.dl > 256
                          THEN 0::long ELSE f.fill END,
                     CASE WHEN f.fill + b.dl > 256
                          THEN b.dl ELSE f.fill + b.dl END
              FROM fold f
              JOIN base b ON b.source = f.source AND b.shard = f.shard
                         AND b.rn = f.rn + 1)
            SELECT doc_id, source, shard, dl, bin_idx, bin_offset FROM fold
        """,
        "quality": """
            WITH q AS (
              SELECT doc_id, text,
                     length(text)::long AS n_chars_q,
                     len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))::long AS n_words,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::long AS n_alpha,
                     length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))::long AS n_punct,
                     ((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')))//5
                      + (length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')))//5
                      + (length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')))//4
                      + (length(' '||text||' ') - length(replace(' '||text||' ', ' to ', '')))//4
                      + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')))//3)::long AS n_stop
              FROM documents)
            SELECT doc_id::long AS doc_id, n_chars_q, n_words,
                   round(n_punct::double / greatest(n_chars_q, 1), 6) AS punct_ratio,
                   round(n_stop::double / greatest(n_words, 1), 6) AS stopword_ratio,
                   round(n_alpha::double / greatest(n_words, 1), 6) AS mean_word_len,
                   (n_words >= 5 AND n_alpha::double/greatest(n_words,1) >= 2.0
                    AND n_alpha::double/greatest(n_words,1) <= 12.0
                    AND n_punct::double/greatest(n_chars_q,1) < 0.2) AS quality_keep
            FROM q
        """,
        "fingerprints": f"""
            SELECT doc_id::long AS doc_id, md5({norm}) AS fingerprint FROM documents
        """,
        "text_repetition": """
            WITH w AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS ws
              FROM documents),
            g2 AS (SELECT doc_id, count(*)::double AS total,
                          count(DISTINCT gram)::double AS dist
                   FROM (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
                         FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i))
                   GROUP BY doc_id),
            g3 AS (SELECT doc_id, count(*)::double AS total,
                          count(DISTINCT gram)::double AS dist
                   FROM (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
                         FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i))
                   GROUP BY doc_id),
            tw AS (SELECT doc_id, max(c)::double / sum(c)::double AS top_word_share
                   FROM (SELECT doc_id, word, count(*) AS c
                         FROM (SELECT doc_id, unnest(ws) AS word FROM w)
                         GROUP BY doc_id, word)
                   GROUP BY doc_id)
            SELECT w.doc_id::long AS doc_id,
                   coalesce(1 - g2.dist / g2.total, 0.0) AS rep_2gram_ratio,
                   coalesce(1 - g3.dist / g3.total, 0.0) AS rep_3gram_ratio,
                   tw.top_word_share
            FROM w LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
                 JOIN tw USING (doc_id)
        """,
        "pii_redact": _pii_redact_oracle(),
        # RE2 and Java regex read the explicit [^a-z0-9]+ class
        # identically; rank keys are pure integers; the ln()-bearing
        # score is snapped to the 1e-6 grid in both engines.
        "tfidf_topk": """
            WITH toks AS (
              SELECT doc_id, t.term
              FROM documents,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
              WHERE t.term <> ''),
            tf  AS (SELECT doc_id, term, count(*)::long AS tf
                    FROM toks GROUP BY doc_id, term),
            dft AS (SELECT term, count(*)::long AS df FROM tf GROUP BY term),
            n   AS (SELECT count(*) AS n_docs FROM documents),
            s AS (
              SELECT tf.doc_id::long AS doc_id, tf.term, tf.tf, dft.df,
                     floor(tf.tf * (ln((n.n_docs + 1.0) / (dft.df + 1.0)) + 1.0)
                           * 1e6 + 0.5) / 1e6 AS tfidf,
                     row_number() OVER (PARTITION BY tf.doc_id
                                        ORDER BY tf.tf DESC, dft.df ASC,
                                                 tf.term ASC)::int AS rank
              FROM tf JOIN dft USING (term) CROSS JOIN n)
            SELECT doc_id, rank, term, tf, df, tfidf FROM s WHERE rank <= 5
        """,
        # Per-term BM25 contributions snapped to integer micro-units
        # BEFORE the per-doc sum (long addition is associative — reduce
        # order cannot perturb the total), mirroring the Spark operator.
        "bm25_topk": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS toks
              FROM documents),
            dl AS (SELECT doc_id, len(toks)::long AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            posting AS (
              SELECT d.doc_id, t.term, count(*)::long AS tf
              FROM d, unnest(d.toks) AS t(term)
              WHERE t.term IN ('join', 'merge', 'scan')
              GROUP BY d.doc_id, t.term),
            dft AS (SELECT term, count(*)::long AS df FROM posting GROUP BY term),
            contrib AS (
              SELECT p.doc_id, dl.dl,
                     floor(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                           * (p.tf * 2.2)
                           / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                           * 1e6 + 0.5)::long AS cu
              FROM posting p JOIN dft USING (term) JOIN dl USING (doc_id)
                   CROSS JOIN stats s),
            scored AS (
              SELECT doc_id::long AS doc_id, count(*)::long AS n_hit_terms,
                     min(dl) AS dl, sum(cu) / 1e6 AS score,
                     sum(cu) AS su
              FROM contrib GROUP BY doc_id)
            SELECT doc_id, n_hit_terms, dl, score
            FROM scored ORDER BY su DESC, doc_id ASC LIMIT 25
        """,
        # Knuth multiplicative hash — pure bigint arithmetic, bit-exact
        # in both engines; rank over (hash, id) = a uniform deterministic
        # draw.
        "sample_stratified": """
            WITH h AS (SELECT doc_id::long AS doc_id, source,
                              (doc_id * 2654435761) % 4294967296 AS hv
                       FROM documents)
            SELECT doc_id, source, draw_rank FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY hv ASC, doc_id ASC)::int
                         AS draw_rank
              FROM h)
            WHERE draw_rank <= 10
        """,
        "sample_hash": """
            SELECT doc_id::long AS doc_id, lang, source
            FROM documents
            WHERE (doc_id * 2654435761) % 4294967296 < 1073741824
        """,
        # 5% Knuth-hash holdout as the 'eval set' (threshold
        # int(0.05 * 2^32) = 214748364, matching sample_hash); per-doc
        # DISTINCT 3-grams; counts are pure integers.
        "curate_training": """
            WITH train AS (
              SELECT * FROM documents
              WHERE NOT ((doc_id * 2654435761) % 4294967296 < 214748364)),
            -- unigram LM over the TRAIN split
            lw AS (SELECT doc_id,
                          unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                             x -> x <> '')) AS word
                   FROM train),
            lc AS (SELECT word, count(*)::long AS cnt FROM lw GROUP BY 1),
            lt AS (SELECT sum(cnt)::double AS total FROM lc),
            ls AS (SELECT lw.doc_id,
                          floor(ln(lc.cnt::double / lt.total) * 1e6 + 0.5)::long AS lp
                   FROM lw JOIN lc USING (word) CROSS JOIN lt),
            lp AS (SELECT doc_id, count(*)::long AS n_tokens,
                          sum(lp)::long AS lp_sum FROM ls GROUP BY 1),
            lm AS (SELECT t.doc_id,
                          CASE WHEN lp.n_tokens > 0
                               THEN round(lp.lp_sum / 1e6 / lp.n_tokens, 6)
                          END AS avg_logprob
                   FROM (SELECT doc_id FROM train) t LEFT JOIN lp USING (doc_id)),
            -- dup 5-gram spans within the TRAIN split
            dw AS (SELECT doc_id,
                          string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
                   FROM train),
            db AS (SELECT doc_id, w, len(w)::int AS n_words,
                          (greatest(len(w) - 5, 0) + 1)::int AS n_grams FROM dw),
            dg AS (SELECT doc_id, (i - 1)::int AS pos,
                          array_to_string(w[i:i+4], ' ') AS gram
                   FROM db, unnest(generate_series(1, greatest(len(w) - 5, 0) + 1)) AS t(i)),
            ddup AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 2),
            dd AS (SELECT dg.doc_id, count(*)::long AS n_dup
                   FROM dg JOIN ddup USING (gram) GROUP BY 1),
            spans AS (SELECT db.doc_id,
                             round(coalesce(dd.n_dup, 0)::double / db.n_grams, 6) AS dup_ratio
                      FROM db LEFT JOIN dd USING (doc_id)),
            -- fuzzy decontam vs the 5% holdout
            ftk AS (SELECT doc_id,
                           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                       x -> x <> '') AS t
                    FROM documents),
            fgr AS (SELECT doc_id,
                           unnest(list_distinct(
                             [array_to_string(list_slice(t, i, i + 2), ' ')
                              for i in range(1, len(t) - 1)])) AS ngram
                    FROM ftk WHERE len(t) >= 3),
            fbg AS (SELECT doc_id AS bench_id, ngram FROM fgr
                    WHERE (doc_id * 2654435761) % 4294967296 < 214748364),
            ftg AS (SELECT doc_id, ngram FROM fgr
                    WHERE NOT ((doc_id * 2654435761) % 4294967296 < 214748364)),
            ftz AS (SELECT doc_id, count(*)::long AS sz_t FROM ftg GROUP BY 1),
            fbz AS (SELECT bench_id, count(*)::long AS sz_b FROM fbg GROUP BY 1),
            fi AS (SELECT t.doc_id, b.bench_id, count(*)::long AS inter
                   FROM ftg t JOIN fbg b USING (ngram) GROUP BY 1, 2),
            fj AS (SELECT fi.doc_id
                   FROM fi JOIN ftz USING (doc_id) JOIN fbz USING (bench_id)
                   WHERE round(fi.inter::double / (ftz.sz_t + fbz.sz_b - fi.inter), 6) >= 0.5),
            fz AS (SELECT t.doc_id, fj.doc_id IS NOT NULL AS fuzzy_contaminated
                   FROM (SELECT doc_id FROM train) t
                   LEFT JOIN (SELECT DISTINCT doc_id FROM fj) fj USING (doc_id))
            SELECT lm.doc_id, lm.avg_logprob, spans.dup_ratio,
                   fz.fuzzy_contaminated,
                   (lm.avg_logprob IS NOT NULL AND lm.avg_logprob >= -3.45) AS lm_keep,
                   (spans.dup_ratio <= 0.5) AS dup_keep,
                   ((lm.avg_logprob IS NOT NULL AND lm.avg_logprob >= -3.45)
                    AND spans.dup_ratio <= 0.5
                    AND NOT fz.fuzzy_contaminated) AS kept
            FROM lm JOIN spans USING (doc_id) JOIN fz USING (doc_id)
        """,
        "lm_score": """
            WITH w AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                        x -> x <> '')) AS word
              FROM documents),
            c AS (SELECT word, count(*)::long AS cnt FROM w GROUP BY 1),
            t AS (SELECT sum(cnt)::double AS total FROM c),
            s AS (SELECT w.doc_id,
                         floor(ln(c.cnt::double / t.total) * 1e6 + 0.5)::long AS lp
                  FROM w JOIN c USING (word) CROSS JOIN t),
            p AS (SELECT doc_id, count(*)::long AS n_tokens,
                         sum(lp)::long AS lp_sum
                  FROM s GROUP BY 1)
            SELECT d.doc_id, coalesce(p.n_tokens, 0)::long AS n_tokens,
                   CASE WHEN p.n_tokens > 0
                        THEN round(p.lp_sum / 1e6 / p.n_tokens, 6) END AS avg_logprob
            FROM (SELECT doc_id FROM documents) d LEFT JOIN p USING (doc_id)
        """,
        "gopher_rules": """
            WITH g AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                 x -> x <> '') AS ws,
                     string_split(text, chr(10)) AS ls,
                     ' ' || lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) || ' ' AS pad
              FROM documents),
            s AS (
              SELECT doc_id,
                     len(ws)::long AS n_words,
                     greatest(len(ws), 1) AS nw1,
                     coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::long AS swl,
                     len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::long AS n_alpha_w,
                     ((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '...', ''))) // 3
                      + (length(text) - length(replace(text, '…', ''))))::long AS n_sym,
                     len(ls)::long AS n_lines,
                     len(list_filter(ls, x ->
                         starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*')
                         OR starts_with(ltrim(x), '•') OR starts_with(ltrim(x), '‣')
                         OR starts_with(ltrim(x), '▪')))::long AS n_bullet,
                     len(list_filter(ls, x ->
                         rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))::long AS n_ellip,
                     ((CASE WHEN contains(pad, ' the ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' be ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' to ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' of ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' and ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' that ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' have ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(pad, ' with ') THEN 1 ELSE 0 END))::long AS n_stops
              FROM g)
            SELECT doc_id::long AS doc_id,
                   n_words AS g_n_words,
                   round(swl::double / nw1, 6) AS g_mean_word_len,
                   round(n_sym::double / nw1, 6) AS g_symbol_ratio,
                   round(n_bullet::double / n_lines, 6) AS g_bullet_frac,
                   round(n_ellip::double / n_lines, 6) AS g_ellipsis_frac,
                   round(n_alpha_w::double / nw1, 6) AS g_alpha_word_frac,
                   n_stops AS g_n_stopwords,
                   (n_words >= 5 AND n_words <= 100000
                    AND swl::double / nw1 >= 3.0 AND swl::double / nw1 <= 10.0
                    AND n_sym::double / nw1 <= 0.1
                    AND n_bullet::double / n_lines <= 0.9
                    AND n_ellip::double / n_lines <= 0.3
                    AND n_alpha_w::double / nw1 >= 0.8
                    AND n_stops >= 1) AS gopher_keep
            FROM s
        """,
        "shuffle_export": """
            SELECT doc_id,
                   (row_number() OVER (
                      ORDER BY (doc_id + 7) * 2654435761 % 4294967296,
                               doc_id) - 1)::long AS shuffle_pos
            FROM documents
        """,
        "c4_clean": """
            WITH g AS (
              SELECT doc_id,
                     text || '.' || chr(10)
                       || substr(text, 1, 20) || '.' || chr(10)
                       || 'Short line' || chr(10)
                       || 'This line mentions javascript and is dropped.' || chr(10)
                       || text || '!' AS t2
              FROM documents),
            s AS (
              SELECT doc_id, t2,
                     string_split(t2, chr(10)) AS ls,
                     contains(lower(t2), 'lorem ipsum') AS has_lorem_ipsum,
                     (contains(t2, '{') OR contains(t2, '}')) AS has_curly_brace
              FROM g),
            k AS (
              SELECT doc_id,
                     len(ls)::long AS n_lines,
                     list_filter(ls, x ->
                        (rtrim(x) LIKE '%.' OR rtrim(x) LIKE '%!'
                         OR rtrim(x) LIKE '%?' OR rtrim(x) LIKE '%"')
                        AND len(list_filter(string_split_regex(x, '[ \\t\\x0B\\f\\r]+'),
                                            w -> w <> '')) >= 5
                        AND NOT contains(lower(x), 'javascript')) AS kept,
                     has_lorem_ipsum, has_curly_brace
              FROM s)
            SELECT doc_id::long AS doc_id, n_lines,
                   len(kept)::long AS n_kept_lines,
                   has_lorem_ipsum, has_curly_brace,
                   (len(kept) >= 3 AND NOT has_lorem_ipsum
                    AND NOT has_curly_brace) AS c4_keep,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text
            FROM k
        """,
        "para_dedup": """
            WITH d AS (SELECT doc_id,
                              string_split(text || chr(10) || chr(10)
                                           || 'SHARED BOILERPLATE FOOTER'
                                           || chr(10) || chr(10) || text,
                                           chr(10)||chr(10)) AS ps
                       FROM documents),
            inst AS (SELECT doc_id, i - 1 AS para_idx, ps[i] AS para,
                            (trim(ps[i]) = '') AS blank,
                            md5(trim(ps[i])) AS key
                     FROM d, unnest(generate_series(1, len(ps))) AS t(i)),
            canon AS (SELECT key, doc_id AS cdoc, para_idx AS cidx
                      FROM (SELECT key, doc_id, para_idx,
                                   row_number() OVER (PARTITION BY key
                                      ORDER BY doc_id, para_idx) AS rn
                            FROM inst WHERE NOT blank)
                      WHERE rn = 1),
            fl AS (SELECT i.doc_id, i.para_idx, i.para, i.blank,
                          (i.blank OR (i.doc_id = c.cdoc
                                       AND i.para_idx = c.cidx)) AS kept
                   FROM inst i LEFT JOIN canon c USING (key))
            SELECT doc_id::long AS doc_id,
                   sum(CASE WHEN NOT blank THEN 1 ELSE 0 END)::long AS n_paras,
                   sum(CASE WHEN NOT kept THEN 1 ELSE 0 END)::long AS n_dropped,
                   coalesce(string_agg(CASE WHEN kept THEN para END,
                                       chr(10)||chr(10) ORDER BY para_idx),
                            '') AS clean_text
            FROM fl GROUP BY 1
        """,
        "weighted_sample": """
            WITH b AS (SELECT doc_id, n_chars,
                              ((doc_id + 3) * 2654435761) % 4294967296 AS h
                       FROM documents WHERE n_chars > 0),
            k AS (SELECT doc_id, n_chars,
                         floor(ln((h + 0.5) / 4294967296.0) / n_chars
                               * 1e6 + 0.5)::long AS km
                  FROM b)
            SELECT doc_id::long AS doc_id, n_chars::long AS n_chars,
                   round(km / 1e6, 6) AS es_key,
                   row_number() OVER (ORDER BY -km, doc_id)::long AS draw_rank,
                   (row_number() OVER (ORDER BY -km, doc_id) <= 100) AS kept
            FROM k
        """,
        "dsir_weights": dsir_cte + """
            SELECT doc_id, n_feats, logw_micro, logw, logw_per_feat FROM wt
        """,
        "dsir_select": dsir_cte + """
            SELECT doc_id, logw_micro,
                   row_number() OVER (ORDER BY logw_micro DESC, doc_id)::long AS dsir_rank,
                   (row_number() OVER (ORDER BY logw_micro DESC, doc_id) <= 150) AS kept
            FROM wt
        """,
        "decontaminate_fuzzy": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [array_to_string(list_slice(t, i, i + 2), ' ')
                        for i in range(1, len(t) - 1)])) AS ngram
              FROM toks WHERE len(t) >= 3),
            bgr AS (SELECT doc_id AS bench_id, ngram FROM grams
                    WHERE (doc_id * 2654435761) % 4294967296 < 214748364),
            tgr AS (SELECT doc_id, ngram FROM grams
                    WHERE NOT ((doc_id * 2654435761) % 4294967296 < 214748364)),
            tsz AS (SELECT doc_id, count(*)::long AS sz_t FROM tgr GROUP BY 1),
            bsz AS (SELECT bench_id, count(*)::long AS sz_b FROM bgr GROUP BY 1),
            i AS (SELECT t.doc_id, b.bench_id, count(*)::long AS inter
                  FROM tgr t JOIN bgr b USING (ngram) GROUP BY 1, 2),
            j AS (SELECT i.doc_id, i.bench_id,
                         round(i.inter::double / (tsz.sz_t + bsz.sz_b - i.inter), 6) AS jac
                  FROM i JOIN tsz USING (doc_id) JOIN bsz USING (bench_id)),
            jt AS (SELECT * FROM j WHERE jac >= 0.5),
            best AS (SELECT doc_id, bench_id, jac FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY jac DESC, bench_id ASC) AS rn FROM jt) WHERE rn = 1),
            train AS (SELECT doc_id FROM documents
                      WHERE NOT ((doc_id * 2654435761) % 4294967296 < 214748364))
            SELECT t.doc_id::long AS doc_id,
                   best.bench_id::long AS matched_bench_id,
                   coalesce(best.jac, 0.0) AS jaccard,
                   best.bench_id IS NOT NULL AS contaminated
            FROM train t LEFT JOIN best USING (doc_id)
        """,
        "decontaminate": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [array_to_string(list_slice(t, i, i + 2), ' ')
                        for i in range(1, len(t) - 1)])) AS ngram
              FROM toks WHERE len(t) >= 3),
            bench AS (
              SELECT DISTINCT ngram FROM grams
              WHERE (doc_id * 2654435761) % 4294967296 < 214748364),
            train AS (
              SELECT doc_id FROM documents
              WHERE NOT ((doc_id * 2654435761) % 4294967296 < 214748364)),
            hits AS (
              SELECT g.doc_id, count(*)::long AS n
              FROM grams g JOIN bench USING (ngram)
              WHERE NOT ((g.doc_id * 2654435761) % 4294967296 < 214748364)
              GROUP BY g.doc_id)
            SELECT t.doc_id::long AS doc_id,
                   coalesce(h.n, 0)::long AS n_contaminated_ngrams,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM train t LEFT JOIN hits h USING (doc_id)
        """,
        # Window starts 1, 1+24, ... <= dl (DuckDB range stop is
        # exclusive, hence dl + 1); list_slice truncates at the list end
        # exactly like Spark's slice.
        "chunk_docs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS t
              FROM documents),
            d AS (SELECT doc_id, t, len(t)::long AS dl
                  FROM toks WHERE len(t) > 0),
            c AS (SELECT doc_id, dl, t,
                         unnest(range(1, dl + 1, 24)) AS start_token
                  FROM d)
            SELECT doc_id::long AS doc_id,
                   ((start_token - 1) // 24)::int AS chunk_idx,
                   start_token::long AS start_token,
                   least(32, dl - start_token + 1)::long AS n_tokens,
                   array_to_string(list_slice(t, start_token, start_token + 31),
                                   ' ') AS chunk_text
            FROM c
        """,
        # Staged pipeline replay — each CTE restricted to the previous
        # stage's survivors, components via recursive CTE.
        "curate_corpus": _curate_oracle(),
        # HLL twin: identical md5 nibble split, MAX-merged registers,
        # exact HUGEINT numerator (Spark uses decimal(38,0)), the same
        # precomputed K literal, 1e-6 snap on the ln() branch.
        "hll_distinct": _hll_oracle(),
        # HDR twin: same integer bucket/bit math, window cumsum,
        # rational-rank pick, bucket lower-bound representative.
        "hdr_quantiles": """
            WITH b AS (
              SELECT source,
                     (CASE WHEN x <= 3 THEN x
                           ELSE (length(bin(x)) - 2) * 4
                                + ((x >> (length(bin(x)) - 3)) & 3)
                      END)::int AS bucket
              FROM (SELECT source, n_chars::BIGINT AS x FROM documents
                    WHERE n_chars IS NOT NULL AND n_chars >= 0)),
            hist AS (SELECT source, bucket, count(*)::long AS cnt
                     FROM b GROUP BY source, bucket),
            cum AS (SELECT source, bucket,
                           sum(cnt) OVER (PARTITION BY source
                                          ORDER BY bucket) AS cum,
                           sum(cnt) OVER (PARTITION BY source) AS n
                    FROM hist),
            q AS (SELECT * FROM (VALUES (1, 2, 'p50'), (9, 10, 'p90'),
                                        (99, 100, 'p99'))
                  AS t(qn, qd, q_label)),
            sel AS (
              SELECT c.source, q.q_label, c.n,
                     (q.qn * c.n + q.qd - 1) // q.qd AS target_rank,
                     c.bucket
              FROM cum c CROSS JOIN q
              WHERE c.cum >= (q.qn * c.n + q.qd - 1) // q.qd),
            picked AS (
              SELECT source, q_label, min(n)::long AS n,
                     min(target_rank)::long AS target_rank,
                     min(bucket)::int AS bucket
              FROM sel GROUP BY source, q_label)
            SELECT source, q_label, n, target_rank, bucket,
                   (CASE WHEN bucket <= 3 THEN bucket::BIGINT
                         ELSE (4 + bucket % 4)::BIGINT << (bucket // 4 - 1)
                    END) AS est_value
            FROM picked
        """,
        # CMS twin: identical md5('cms{r}|' || value) cell recipe, low
        # 60 bits mod width, SUM-merged counters, min over hash rows.
        "cms_estimate": f"""
            WITH rws AS (SELECT role, conv_id FROM {tx}
                         WHERE conv_id IS NOT NULL),
            rr AS (SELECT unnest(range(4)) AS r),
            cells AS (
              SELECT role, r,
                     ('0x' || substr(md5('cms' || r::VARCHAR || '|'
                                         || conv_id), 1, 15))::BIGINT
                     % 2048 AS c
              FROM rws CROSS JOIN rr),
            cms AS (SELECT role, r, c, count(*)::long AS cnt
                    FROM cells GROUP BY role, r, c),
            items AS (SELECT DISTINCT role, conv_id FROM rws),
            icells AS (
              SELECT role, conv_id, r,
                     ('0x' || substr(md5('cms' || r::VARCHAR || '|'
                                         || conv_id), 1, 15))::BIGINT
                     % 2048 AS c
              FROM items CROSS JOIN rr),
            j AS (SELECT i.role, i.conv_id,
                         coalesce(m.cnt, 0)::long AS cnt
                  FROM icells i LEFT JOIN cms m
                  ON i.role = m.role AND i.r = m.r AND i.c = m.c)
            SELECT role, conv_id, min(cnt)::long AS est_count
            FROM j GROUP BY role, conv_id ORDER BY role, conv_id
        """,
        # heavy_hitters' CMS pre-filter is one-sided, so the exact
        # GROUP BY ... HAVING is the whole truth.
        "heavy_hitters": f"""
            SELECT role, conv_id, count(*)::long AS cnt
            FROM {tx} WHERE conv_id IS NOT NULL
            GROUP BY role, conv_id HAVING count(*) >= 600
            ORDER BY role, conv_id
        """,
        # the Bloom pre-prune has no false negatives, so the plain join
        # is the whole truth (same one-sided-sketch argument as above).
        "bloom_join": """
            SELECT o_orderkey, count(*)::long AS n_lines,
                   sum(l_quantity::long)::long AS qty_sum
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderkey ORDER BY o_orderkey
        """,
        # The identical next-fit fold, replayed sequentially per
        # (source, shard) group by a recursive CTE over the doc_id-order
        # row numbers — dl >= 1 so fill > 0 after the anchor row, making
        # the operator's `fill > 0 and ...` guard equivalent to the
        # CTE's overflow test.
        "pack_docs": """
            WITH RECURSIVE toks AS (
              SELECT doc_id, source,
                     len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     x -> x <> ''))::long AS dl
              FROM documents),
            base AS (
              SELECT doc_id::long AS doc_id, source,
                     (((doc_id * 2654435761) % 4294967296) % 2)::int AS shard,
                     dl,
                     row_number() OVER (
                       PARTITION BY source,
                                    ((doc_id * 2654435761) % 4294967296) % 2
                       ORDER BY doc_id)::long AS rn
              FROM toks WHERE dl > 0),
            fold AS (
              SELECT doc_id, source, shard, dl, rn,
                     0::long AS bin_idx, 0::long AS bin_offset, dl AS fill
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.doc_id, b.source, b.shard, b.dl, b.rn,
                     CASE WHEN f.fill + b.dl > 128
                          THEN f.bin_idx + 1 ELSE f.bin_idx END,
                     CASE WHEN f.fill + b.dl > 128
                          THEN 0::long ELSE f.fill END,
                     CASE WHEN f.fill + b.dl > 128
                          THEN b.dl ELSE f.fill + b.dl END
              FROM fold f
              JOIN base b ON b.source = f.source AND b.shard = f.shard
                         AND b.rn = f.rn + 1)
            SELECT doc_id, source, shard, dl, bin_idx, bin_offset FROM fold
        """,
        "tx_lttb": f"""
            SELECT conv_id, window_start::timestamp AS window_start,
                   turn_count::long AS turn_count, pos::int AS pos
            FROM read_parquet('{GOLDEN_LTTB}')
            ORDER BY conv_id, pos
        """,
        "tx_kalman": f"""
            SELECT conv_id, window_start::timestamp AS window_start,
                   turn_count::long AS turn_count,
                   kalman_level::double AS kalman_level,
                   kalman_var::double AS kalman_var,
                   kalman_smooth::double AS kalman_smooth
            FROM read_parquet('{GOLDEN_KAL}')
        """,
        "tx_tool_transitions": f"""
            WITH s AS (SELECT conv_id, turn_idx, tool,
                              lead(tool) OVER (PARTITION BY conv_id
                                               ORDER BY turn_idx) AS next_tool
                       FROM {tx} WHERE tool IS NOT NULL),
            c AS (SELECT tool, next_tool, count(*)::long AS n_transitions
                  FROM s GROUP BY 1, 2)
            SELECT tool, next_tool, n_transitions,
                   round(n_transitions / sum(n_transitions)
                                           OVER (PARTITION BY tool), 6) AS p_next
            FROM c
        """,
        "tx_response_latency": f"""
            WITH t AS (SELECT conv_id, turn_idx, role, epoch_us(ts) AS us
                       FROM {tx}),
            nx AS (SELECT conv_id, turn_idx, role, us,
                          min(CASE WHEN role = 'assistant' THEN us END) OVER (
                            PARTITION BY conv_id ORDER BY turn_idx
                            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS na
                   FROM t),
            lat AS (SELECT conv_id, (na - us) AS lat
                    FROM nx WHERE role = 'user' AND na IS NOT NULL),
            rk AS (SELECT conv_id, lat,
                          row_number() OVER (PARTITION BY conv_id ORDER BY lat) AS rn,
                          count(*) OVER (PARTITION BY conv_id) AS m
                   FROM lat)
            SELECT conv_id, max(m)::long AS n_pairs,
                   max(CASE WHEN rn = (m+1)//2 THEN lat END)::long AS lat_median_us,
                   max(CASE WHEN rn = (9*m+9)//10 THEN lat END)::long AS lat_p90_us,
                   max(lat)::long AS lat_max_us
            FROM rk GROUP BY 1
        """,
        # M4: integer relation, ties break on earliest slot in BOTH
        # engines (identical ORDER BY in the four row_number windows).
        "tx_m4": f"""
            WITH t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000100'),
            r AS (
              SELECT conv_id, {slot_m} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            bkt AS (
              SELECT conv_id, window_start, turn_count,
                     floor(epoch(window_start)/3600)::long AS bucket
              FROM r),
            flags AS (
              SELECT conv_id, window_start, turn_count, bucket,
                     row_number() OVER (PARTITION BY conv_id, bucket
                       ORDER BY turn_count ASC, window_start ASC) = 1 AS is_min,
                     row_number() OVER (PARTITION BY conv_id, bucket
                       ORDER BY turn_count DESC, window_start ASC) = 1 AS is_max,
                     row_number() OVER (PARTITION BY conv_id, bucket
                       ORDER BY window_start ASC) = 1 AS is_first,
                     row_number() OVER (PARTITION BY conv_id, bucket
                       ORDER BY window_start DESC) = 1 AS is_last
              FROM bkt)
            SELECT * FROM flags
            WHERE is_min OR is_max OR is_first OR is_last
            ORDER BY conv_id, window_start
        """,
        # EWMA recurrence replayed exactly: 0.25/0.75 are exact binary
        # doubles, multiplications and the add occur in the same order as
        # the numpy kernel, so raw doubles match to the last bit.
        "tx_ewma": f"""
            WITH RECURSIVE
            t AS (SELECT * FROM {tx} WHERE conv_id < 'conv00000200'),
            r AS (
              SELECT conv_id, {slot_h} AS window_start,
                     count(*)::long AS turn_count
              FROM t GROUP BY 1, 2),
            o AS (
              SELECT conv_id, window_start, turn_count,
                     row_number() OVER (PARTITION BY conv_id
                                        ORDER BY window_start) AS rn
              FROM r),
            e AS (
              SELECT conv_id, window_start, turn_count, rn,
                     turn_count::double AS ewma
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.conv_id, o.window_start, o.turn_count, o.rn,
                     0.25 * o.turn_count::double + 0.75 * e.ewma
              FROM o JOIN e ON o.conv_id = e.conv_id AND o.rn = e.rn + 1)
            SELECT conv_id, window_start, turn_count, ewma
            FROM e ORDER BY conv_id, window_start
        """,
        "tx_segments": f"""
            SELECT conv_id, segment_id::int AS segment_id,
                   start_ts::timestamp AS start_ts, end_ts::timestamp AS end_ts,
                   break_ts::timestamp AS break_ts,
                   coef_0::double AS coef_0, coef_1::double AS coef_1,
                   coef_2::double AS coef_2, coef_3::double AS coef_3,
                   rmse::double AS rmse, magnitude::double AS magnitude,
                   n_obs::int AS n_obs
            FROM read_parquet('{GOLDEN_SEG}')
        """,
        "tx_predict": _tx_predict_oracle(),
        "tx_commission_omission": f"""
            SELECT conv_id, segment_id::int AS segment_id,
                   start_ts::timestamp AS start_ts, end_ts::timestamp AS end_ts,
                   break_ts::timestamp AS break_ts,
                   coef_0, coef_1, coef_2, coef_3,
                   rmse, magnitude, n_obs::int AS n_obs,
                   omission_score,
                   robust_coef_0, robust_coef_1, robust_coef_2, robust_coef_3,
                   robust_rmse
            FROM read_parquet('{os.path.join(REPO, "data", "golden_postprocess_sf0.01.parquet")}')
        """,
        "tx_refit": f"""
            SELECT conv_id, segment_id::int AS segment_id,
                   start_ts::timestamp AS start_ts, end_ts::timestamp AS end_ts,
                   break_ts::timestamp AS break_ts,
                   coef_0, coef_1, coef_2, coef_3,
                   rmse, magnitude, n_obs::int AS n_obs,
                   omission_score,
                   robust_coef_0, robust_coef_1, robust_coef_2, robust_coef_3,
                   robust_rmse
            FROM read_parquet('{os.path.join(REPO, "data", "golden_refit_sf0.01.parquet")}')
        """,
        "tx_segments_pheno": f"""
            SELECT conv_id, segment_id::int AS segment_id,
                   start_ts::timestamp AS start_ts, end_ts::timestamp AS end_ts,
                   break_ts::timestamp AS break_ts,
                   coef_0, coef_1, coef_2, coef_3,
                   rmse, magnitude, n_obs::int AS n_obs,
                   peak_hour::int AS peak_hour,
                   CASE WHEN isnan(peak_rate) THEN NULL ELSE peak_rate END AS peak_rate,
                   rise_hour::int AS rise_hour, fall_hour::int AS fall_hour,
                   CASE WHEN isnan(pheno_cor) THEN NULL ELSE pheno_cor END AS pheno_cor,
                   pheno_nobs::int AS pheno_nobs
            FROM read_parquet('{os.path.join(REPO, "data", "golden_pheno_segments_sf0.01.parquet")}')
        """,
        "tx_classify": f"""
            SELECT conv_id, segment_id::int AS segment_id, "class",
                   class_proba::double AS class_proba
            FROM read_parquet('{GOLDEN_CLS}')
        """,
        "tx_crossval": f"""
            SELECT fold::long AS fold, accuracy::double AS accuracy
            FROM read_parquet('{GOLDEN_CV}')
        """,
        "tx_segments_multi": f"""
            SELECT conv_id, segment_id::int AS segment_id, start_ts, end_ts, break_ts,
                   coef_0_0, coef_0_1, coef_0_2, coef_0_3,
                   rmse_0, magnitude_0,
                   coef_1_0, coef_1_1, coef_1_2, coef_1_3,
                   rmse_1, magnitude_1,
                   n_obs::int AS n_obs
            FROM read_parquet('{GOLDEN_MULTI}')
        """,
        "multimodal_resize": """
            WITH d AS (SELECT doc_id::long AS media_id,
                              (16 + doc_id % 7)::bigint AS w,
                              (12 + doc_id % 5)::bigint AS h
                       FROM documents),
            ox AS (SELECT unnest(generate_series(0, 7))::bigint AS ox),
            oy AS (SELECT unnest(generate_series(0, 7))::bigint AS oy),
            px AS (SELECT media_id,
                          ((oy.oy * h) // 8) * w + ((ox.ox * w) // 8) AS k
                   FROM d, ox, oy)
            SELECT media_id, 8 AS width, 8 AS height,
                   avg(((media_id*31 + k*13) % 256)::double) AS mean_r,
                   avg(((media_id*31 + 97 + k*13) % 256)::double) AS mean_g,
                   avg(((media_id*31 + 194 + k*13) % 256)::double) AS mean_b
            FROM px GROUP BY media_id
        """,
        "multimodal_audio": """
            WITH d AS (SELECT doc_id::long AS media_id,
                              (800 + (doc_id % 5) * 160)::bigint AS n
                       FROM documents),
            sm AS (SELECT media_id, n,
                          ((media_id*31 + unnest(generate_series(0, n - 1))*13) % 4096
                           - 2048)::double AS x
                   FROM d)
            SELECT media_id, 8000 AS sample_rate, n::int AS n_samples,
                   (n / 8000.0) AS duration_s,
                   sum(x) / n AS mean,
                   sqrt(sum(x*x) / n) AS rms
            FROM sm GROUP BY media_id, n
        """,
        "multimodal_frames": """
            WITH d AS (SELECT doc_id::long AS media_id,
                              (8 + doc_id % 5)::bigint AS w,
                              (6 + doc_id % 3)::bigint AS h,
                              (4 + doc_id % 4)::bigint AS n_frames
                       FROM documents),
            fr AS (SELECT media_id, w, h,
                          unnest(generate_series(0, n_frames - 1, 2))::int AS frame_idx
                   FROM d),
            px AS (SELECT media_id, frame_idx,
                          unnest(generate_series(0, w*h - 1))::bigint AS k
                   FROM fr)
            SELECT media_id, frame_idx,
                   avg(((media_id*31 + frame_idx*59 + k*13) % 256)::double) AS mean_r,
                   avg(((media_id*31 + frame_idx*59 + 97 + k*13) % 256)::double) AS mean_g,
                   avg(((media_id*31 + frame_idx*59 + 194 + k*13) % 256)::double) AS mean_b
            FROM px GROUP BY media_id, frame_idx
        """,
        "multimodal_features": """
            WITH d AS (SELECT doc_id::long AS media_id,
                              (16 + doc_id % 7)::int AS width,
                              (12 + doc_id % 5)::int AS height
                       FROM documents),
            px AS (SELECT media_id, width, height,
                          unnest(generate_series(0, width*height - 1)) AS k
                   FROM d)
            SELECT media_id, width, height,
                   avg(((media_id*31 + k*13) % 256)::double) AS mean_r,
                   avg(((media_id*31 + 97 + k*13) % 256)::double) AS mean_g,
                   avg(((media_id*31 + 194 + k*13) % 256)::double) AS mean_b
            FROM px GROUP BY media_id, width, height
        """,
        # Same closed-form means as multimodal_features — the Spark side
        # travels through REAL PNG compression (deflate + 5-filter encode)
        # and back, so equality proves the codec inverts exactly.
        "multimodal_png": """
            WITH d AS (SELECT doc_id::long AS media_id,
                              (16 + doc_id % 7)::int AS width,
                              (12 + doc_id % 5)::int AS height
                       FROM documents),
            px AS (SELECT media_id, width, height,
                          unnest(generate_series(0, width*height - 1)) AS k
                   FROM d)
            SELECT media_id, width, height,
                   avg(((media_id*31 + k*13) % 256)::double) AS mean_r,
                   avg(((media_id*31 + 97 + k*13) % 256)::double) AS mean_g,
                   avg(((media_id*31 + 194 + k*13) % 256)::double) AS mean_b
            FROM px GROUP BY media_id, width, height
        """,
        # Spark-free golden twin (make_goldens.py::jpeg_twin): DC/AC
        # coefficients are a closed form per (media_id, block, channel),
        # but the IDCT + YCbCr->RGB pixel means are not SQL-expressible,
        # so the twin decodes with the same kernel, Spark-free, and the
        # driver hash is a differential over the mapInPandas plumbing +
        # a proof the compressed bytes survive the Arrow batch transfer.
        "multimodal_jpeg": f"""
            SELECT media_id, width, height, mean_r, mean_g, mean_b
            FROM read_parquet('{os.path.join(REPO, "data", "golden_jpeg_sf0.01.parquet")}')
        """,
        "multimodal_meta": """
            SELECT doc_id::long AS media_id,
                   octet_length(encode(text))::long AS n_bytes,
                   sha256(text) AS payload_sha256
            FROM documents
        """,
        # langid / cosine_topk / lsh oracles are assembled in code below
        **_langid_oracle(),
        **_embedding_oracles(),
    }

    # datamix_report: composed FROM the dict's own per-doc oracles, so the
    # sub-signals in the report are LITERALLY the strings the individual
    # driver rows are checked against (quality/gopher/token/fingerprints),
    # plus an lm CTE with the exact integer micro-sum exposed.
    d["datamix_report"] = f"""
        WITH oq AS ({d['quality']}),
        og AS ({d['gopher_rules']}),
        otk AS ({d['token_counts']}),
        ofp AS ({d['fingerprints']}),
        dup AS (SELECT f.doc_id, (c._c > 1) AS is_dup
                FROM ofp f JOIN (SELECT fingerprint, count(*)::long AS _c
                                 FROM ofp GROUP BY 1) c USING (fingerprint)),
        lw AS (SELECT doc_id,
                      unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                         x -> x <> '')) AS word
               FROM documents),
        lc AS (SELECT word, count(*)::long AS cnt FROM lw GROUP BY 1),
        lt AS (SELECT sum(cnt)::double AS total FROM lc),
        ls AS (SELECT lw.doc_id,
                      floor(ln(lc.cnt::double / lt.total) * 1e6 + 0.5)::long AS lp
               FROM lw JOIN lc USING (word) CROSS JOIN lt),
        lp AS (SELECT doc_id, count(*)::long AS lm_tokens, sum(lp)::long AS lp_sum
               FROM ls GROUP BY 1),
        lm AS (SELECT dd.doc_id, coalesce(lp.lm_tokens, 0)::long AS lm_tokens,
                      coalesce(lp.lp_sum, 0)::long AS lp_micro_sum
               FROM (SELECT doc_id FROM documents) dd LEFT JOIN lp USING (doc_id)),
        j AS (SELECT dd.source, otk.n_chars, otk.n_ws_tokens,
                     oq.quality_keep, og.gopher_keep, dup.is_dup,
                     lm.lm_tokens, lm.lp_micro_sum
              FROM documents dd
              JOIN otk USING (doc_id) JOIN oq USING (doc_id)
              JOIN og USING (doc_id) JOIN dup USING (doc_id)
              JOIN lm USING (doc_id))
        SELECT source, count(*)::long AS n_docs,
               sum(n_chars)::long AS n_chars,
               sum(n_ws_tokens)::long AS n_tokens,
               round(sum(CASE WHEN quality_keep THEN 1 ELSE 0 END) / count(*), 6)
                 AS quality_rate,
               round(sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END) / count(*), 6)
                 AS gopher_rate,
               round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) / count(*), 6)
                 AS dup_rate,
               CASE WHEN sum(lm_tokens) > 0 THEN
                 round(sum(lp_micro_sum) / 1e6 / sum(lm_tokens), 6)
               END AS lm_avg_logprob
        FROM j GROUP BY source
    """
    return d


def _langid_oracle() -> dict[str, str]:
    from yatsm_spark.operators.textstats import LANG_MARKERS

    def cnt(word):
        pad = f"' '||text||' '"
        needle = f" {word} "
        return (f"((length({pad}) - length(replace({pad}, '{needle}', ''))) // {len(needle)})"
                )

    score_exprs = {
        lang: "(" + " + ".join(cnt(w) for w in words) + f")::long AS score_{lang}"
        for lang, words in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in sorted(langs)
    ) + " END"
    return {
        "langid": f"""
            WITH s AS (SELECT doc_id, {', '.join(score_exprs.values())} FROM documents)
            SELECT doc_id::long AS doc_id, {', '.join(f'score_{l}' for l in langs)},
                   {pred} AS pred_lang
            FROM s
        """
    }


def _embedding_oracles() -> dict[str, str]:
    # ordered-fold dot products so doubles match Spark's aggregate() exactly
    dot = ("list_sum(list_transform(generate_series(1, len(a.v)), "
           "i -> a.v[i] * q.v[i]))")
    nrm = "sqrt(list_sum(list_transform({X}.v, x -> x*x)))"
    planes = []
    for j in range(8):
        proj = (f"list_sum(list_transform(generate_series(1, len(v)), "
                f"i -> v[i] * cos((i-1) + {float(j * 1009)})))")
        planes.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(planes)
    # IVF twin: same codebook rule (n lowest ids — or the kmeans golden
    # parquet for the trained-codebook row), same rounded-cosine argmax
    # with lowest-cid tie-break as operators/similarity.ivf_index. The
    # SAME CTE text oracles the literal path (ivf_assign/ivf_topk) and
    # the broadcast mapInPandas path (the *_b256 rows): the broadcast
    # path's sequential-fold numpy is bit-equal to the literal
    # expressions by construction (kernel/vecmath.py).
    def _ivf_ctes(n_centroids: int, golden_codebook: str | None = None) -> str:
        if golden_codebook is None:
            c_cte = (f"c AS (SELECT vec_id::int AS cid, v AS cv, nrm AS cn "
                     f"FROM n WHERE vec_id < {n_centroids})")
        else:
            c_cte = f"""c0 AS (SELECT cid::int AS cid, list(val ORDER BY pos) AS cv
                   FROM read_parquet('{golden_codebook}') GROUP BY cid),
            c AS (SELECT cid, cv,
                         sqrt(list_sum(list_transform(cv, x -> x*x))) AS cn
                  FROM c0)"""
        return f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                  FROM e),
            {c_cte},
            asim AS (SELECT a.vec_id, c.cid,
                            round(list_sum(list_transform(generate_series(1, len(a.v)),
                                                          i -> a.v[i] * c.cv[i]))
                                  / (a.nrm * c.cn), 6) AS csim
                     FROM n a, c),
            assign AS (SELECT vec_id, cid AS cluster FROM (
                SELECT vec_id, cid, row_number() OVER (
                    PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
                FROM asim) WHERE rn = 1)"""

    def _ivf_topk_sql(n_centroids: int, nprobe: int,
                      golden_codebook: str | None = None) -> str:
        return f"""
            {_ivf_ctes(n_centroids, golden_codebook)},
            probes AS (SELECT vec_id AS query_id, cid FROM (
                SELECT vec_id, cid, row_number() OVER (
                    PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
                FROM asim WHERE vec_id < 10) WHERE rn <= {nprobe}),
            cand AS (SELECT p.query_id, a2.vec_id AS neighbor_id
                     FROM probes p JOIN assign a2 ON a2.cluster = p.cid
                     WHERE a2.vec_id <> p.query_id),
            sims AS (SELECT c2.query_id, c2.neighbor_id,
                            round({dot} / (a.nrm * q.nrm), 6) AS sim
                     FROM cand c2 JOIN n a ON a.vec_id = c2.neighbor_id
                                  JOIN n q ON q.vec_id = c2.query_id)
            SELECT query_id, neighbor_id, sim, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM sims)
            WHERE rank <= 5
        """

    _IVF_CTES = _ivf_ctes(16)
    return {
        "cosine_topk": f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10),
            sims AS (
              SELECT q.query_id, a.vec_id AS neighbor_id,
                     round({dot} / ({nrm.format(X='a')} * {nrm.format(X='q')}), 6) AS sim
              FROM e a, q WHERE a.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, sim, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM sims)
            WHERE rank <= 5
        """,
        "ivf_assign": f"""
            {_IVF_CTES}
            SELECT vec_id, cluster FROM assign
        """,
        "ivf_topk": _ivf_topk_sql(16, 4),
        "ivf_assign_b256": f"""
            {_ivf_ctes(256)}
            SELECT vec_id, cluster FROM assign
        """,
        "ivf_topk_b256": _ivf_topk_sql(256, 32),
        "kmeans_codebook": f"""
            SELECT cid, pos, val, n_members
            FROM read_parquet('{GOLDEN_KM}')
        """,
        "ivf_topk_kmeans": _ivf_topk_sql(8, 2, GOLDEN_KM),
        "semdedup": f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
                  FROM e),
            c0 AS (SELECT cid::int AS cid, list(val ORDER BY pos) AS cv
                   FROM read_parquet('{GOLDEN_KM}') GROUP BY cid),
            c AS (SELECT cid, cv,
                         sqrt(list_sum(list_transform(cv, x -> x*x))) AS cn
                  FROM c0),
            asim AS (SELECT a.vec_id, c.cid,
                            round(list_sum(list_transform(generate_series(1, len(a.v)),
                                                          i -> a.v[i] * c.cv[i]))
                                  / (a.nrm * c.cn), 6) AS csim
                     FROM n a, c),
            assign AS (SELECT vec_id, cid AS cluster, csim AS cent_sim FROM (
                SELECT vec_id, cid, csim, row_number() OVER (
                    PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
                FROM asim) WHERE rn = 1),
            p AS (SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                         l.cent_sim AS ca, r.cent_sim AS cb2
                  FROM assign l JOIN assign r
                    ON l.cluster = r.cluster AND l.vec_id < r.vec_id),
            s AS (SELECT p.*,
                         round(list_sum(list_transform(generate_series(1, len(x.v)),
                                                       i -> x.v[i] * y.v[i]))
                               / (x.nrm * y.nrm), 6) AS sim
                  FROM p JOIN n x ON x.vec_id = p.id_a
                         JOIN n y ON y.vec_id = p.id_b),
            d AS (SELECT DISTINCT CASE WHEN (ca > cb2)
                                         OR (ca = cb2 AND id_a > id_b)
                                       THEN id_a ELSE id_b END AS vec_id
                  FROM s WHERE sim >= 0.3)
            SELECT a.vec_id, a.cluster, a.cent_sim,
                   (d.vec_id IS NULL) AS kept
            FROM assign a LEFT JOIN d ON d.vec_id = a.vec_id
        """,
        "pca_project": f"""
            SELECT vec_id, pc_0, pc_1, pc_2, pc_3
            FROM read_parquet('{GOLDEN_PCA}') ORDER BY vec_id
        """,
        "zorder_events": _zorder_oracle(),
        "sample_mixture": _mixture_oracle(),
        "pq_codes": f"""
            SELECT vec_id, code
            FROM read_parquet('{os.path.join(REPO, "data", "golden_pq_codes_sf0.01.parquet")}')
            ORDER BY vec_id
        """,
        "pq_adc_topk": f"""
            SELECT query_id, neighbor_id, adist, rank
            FROM read_parquet('{os.path.join(REPO, "data", "golden_pq_topk_sf0.01.parquet")}')
            ORDER BY query_id, rank
        """,
        "ivfpq_topk": f"""
            SELECT query_id, neighbor_id, adist, rank
            FROM read_parquet('{os.path.join(REPO, "data", "golden_ivfpq_sf0.01.parquet")}')
            ORDER BY query_id, rank
        """,
        "lsh_buckets": f"""
            SELECT vec_id,
                   ({bucket})::long AS bucket
            FROM (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                  FROM embeddings)
        """,
        "embedding_near_dups": f"""
            WITH b0 AS (
              SELECT vec_id, ({bucket})::long AS bucket
              FROM (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                    FROM embeddings)),
            bok AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= 1000),
            b AS (SELECT b0.* FROM b0 JOIN bok USING (bucket)),
            p AS (SELECT l.vec_id AS id_a, r.vec_id AS id_b
                  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
            n AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                  FROM embeddings),
            s AS (SELECT p.id_a, p.id_b,
                         round({dot.replace('q.v', 'b2.v')} /
                               ({nrm.format(X='a')} * {nrm.format(X='b2')}), 6) AS sim
                  FROM p JOIN n a ON a.vec_id = p.id_a
                         JOIN n b2 ON b2.vec_id = p.id_b)
            SELECT id_a, id_b, sim FROM s WHERE sim >= 0.3
        """,
        "lsh_pairs": f"""
            WITH b0 AS (
              SELECT vec_id, ({bucket})::long AS bucket
              FROM (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
                    FROM embeddings)),
            bok AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= 1000),
            b AS (SELECT b0.* FROM b0 JOIN bok USING (bucket))
            SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.bucket
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        """,
    }
