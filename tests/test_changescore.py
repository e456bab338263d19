"""W9 parity bridge (FIXTURES.md §3.6): the applyInPandas change-score
operator must equal the pure-numpy kernel bit-for-bit, and codec chunks
must round-trip through Spark."""

import numpy as np
import pandas as pd
import pytest

from yatsm_spark.ingest import with_measures
from yatsm_spark.kernel.ccdc import CCDCParams, ccdc_fit
from yatsm_spark.operators.changescore import CONV_PARAMS, change_scores
from yatsm_spark.operators.codec import decode_chunks, encode_chunks
from yatsm_spark.operators.rollup import gapfill, rollup_from_turns
from yatsm_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def filled(spark):
    tx = generate_transcripts(spark, 40, seed=7, max_turns=4000)
    f = gapfill(rollup_from_turns(with_measures(tx), "1m"), "1m").cache()
    f.count()
    return f


def test_applyinpandas_equals_numpy(spark, filled):
    segs = change_scores(filled, "turn_count", CONV_PARAMS).toPandas()
    local = filled.orderBy("conv_id", "window_start").toPandas()
    import dataclasses

    for conv_id, grp in local.groupby("conv_id"):
        t = grp["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64) / 86400.0
        y = grp["turn_count"].to_numpy(np.float64)
        res = ccdc_fit(t, y, dataclasses.replace(CONV_PARAMS))
        got = segs[segs["conv_id"] == conv_id].sort_values("segment_id")
        assert len(got) == len(res.segments), conv_id
        for (_, row), seg in zip(got.iterrows(), res.segments):
            assert row["start_ts"].timestamp() == round(seg.start_day * 86400)
            assert row["end_ts"].timestamp() == round(seg.end_day * 86400)
            if seg.break_day:
                assert row["break_ts"].timestamp() == round(seg.break_day * 86400)
            else:
                assert pd.isna(row["break_ts"])
            np.testing.assert_array_equal(np.array(row["coef"]), seg.coef[0])
            assert row["rmse"] == seg.rmse[0]


def test_segments_detect_injected_regime_shift(spark):
    """A conv whose turn rate triples mid-life must yield a break."""
    rows = []
    base = pd.Timestamp("2025-01-01")
    rng = np.random.RandomState(0)
    tidx = 0
    for minute in range(0, 2880):  # 2 days of activity
        rate = 2 if minute < 1440 else 9
        for k in range(rng.poisson(rate)):
            rows.append({
                "conv_id": "convX", "turn_idx": tidx, "role": "user",
                "text": "hello world", "tool": None,
                "ts": base + pd.Timedelta(minutes=minute, seconds=int(60 * k / max(rate, 1))),
            })
            tidx += 1
    tx = spark.createDataFrame(pd.DataFrame(rows))
    filled = gapfill(rollup_from_turns(with_measures(tx), "1m"), "1m")
    segs = change_scores(filled).toPandas().sort_values("segment_id")
    assert len(segs) >= 2
    first_break = segs.iloc[0]["break_ts"]
    shift = base + pd.Timedelta(days=1)
    assert abs((first_break - shift).total_seconds()) < 4 * 3600


def test_chunks_roundtrip_exactly(spark, filled):
    chunks = encode_chunks(filled, "1m", chunk_points=512).cache()
    assert chunks.filter("n_points > 512").count() == 0
    back = decode_chunks(chunks)
    cols = filled.columns
    a = filled.select(*cols)
    b = back.select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # compression must actually compress vs raw 8B/value layout
    import pyspark.sql.functions as F

    sizes = chunks.agg(
        F.sum(F.length("ts_codec") + F.length("val_codec")).alias("enc"),
        F.sum("n_points").alias("pts"),
    ).collect()[0]
    raw = sizes["pts"] * 8 * (len(cols) - 1)
    assert sizes["enc"] < raw / 2


def test_sparse_densify_paths_equal_dense(spark, filled):
    """The scale path (sparse input, reindexed in the kernel) must be
    indistinguishable from feeding the gap-filled tier to the same call."""
    from pyspark.sql import functions as F

    from yatsm_spark.operators.cascade import cascade

    sparse = filled.filter(~F.col("gap_filled"))
    a = change_scores(filled, "turn_count", CONV_PARAMS).orderBy("conv_id", "segment_id").toPandas()
    b = change_scores(sparse, "turn_count", CONV_PARAMS) \
        .orderBy("conv_id", "segment_id").toPandas()
    pd.testing.assert_frame_equal(a, b)

    ca = encode_chunks(filled, "1m", chunk_points=512)
    cb = encode_chunks(sparse, "1m", chunk_points=512)
    assert ca.exceptAll(cb).count() == 0
    assert cb.exceptAll(ca).count() == 0

    # cascade over sparse + gapfill == cascade over dense (same rows)
    from yatsm_spark.operators.rollup import gapfill

    da = cascade(filled, "1m", "1h")
    db = gapfill(cascade(sparse, "1m", "1h"), "1h")
    assert da.exceptAll(db).count() == 0
    assert db.exceptAll(da).count() == 0


def test_multi_single_measure_equals_scalar_operator(spark, filled):
    # change_scores_multi(["turn_count"]) must reproduce change_scores
    # exactly — same boundaries, coef (as the only band), rmse, magnitude.
    from yatsm_spark.operators.changescore import change_scores_multi

    a = change_scores(filled, "turn_count", CONV_PARAMS).toPandas() \
        .sort_values(["conv_id", "segment_id"]).reset_index(drop=True)
    b = change_scores_multi(filled, ["turn_count"], CONV_PARAMS).toPandas() \
        .sort_values(["conv_id", "segment_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    for col in ("conv_id", "segment_id", "start_ts", "end_ts", "n_obs"):
        assert (a[col] == b[col]).all(), col
    for i in range(len(a)):
        assert list(a["coef"].iloc[i]) == list(b["coefs"].iloc[i][0])
        assert a["rmse"].iloc[i] == b["rmse"].iloc[i][0]
        assert a["magnitude"].iloc[i] == b["magnitude"].iloc[i][0]


def test_multi_breaks_on_selected_test_index_only(spark):
    # Stable turn rate throughout; tool_call_count jumps 0 -> ~all at
    # minute 240 of 480. Testing band 1 (tools) must break; testing band 0
    # (turns) must not — the reference's test_indices semantics through
    # the Spark operator.
    from pyspark.sql import functions as F

    from yatsm_spark.operators.changescore import change_scores_multi

    n = 480
    rows = spark.range(0, n).select(
        F.lit("c1").alias("conv_id"),
        F.timestamp_seconds(F.lit(1_735_689_600) + F.col("id") * 60).alias("window_start"),
        (F.lit(5) + (F.col("id") % 2)).cast("long").alias("turn_count"),
        F.when(F.col("id") >= 240, (F.lit(4) + (F.col("id") % 2)))
         .otherwise(F.lit(0)).cast("long").alias("tool_call_count"),
    )
    broke = change_scores_multi(rows, ["turn_count", "tool_call_count"],
                                CONV_PARAMS, test_indices=[1]).toPandas()
    quiet = change_scores_multi(rows, ["turn_count", "tool_call_count"],
                                CONV_PARAMS, test_indices=[0]).toPandas()
    assert broke["break_ts"].notna().sum() >= 1
    assert quiet["break_ts"].notna().sum() == 0
    # per-band outputs: 2 coef vectors / rmses / magnitudes per segment
    assert all(len(c) == 2 for c in broke["coefs"])
    assert all(len(r) == 2 for r in broke["rmse"])


def test_postprocess_operator_aligns_and_merges(spark, filled):
    # P1-P3 through Spark: with merging off, segments align 1:1 with
    # change_scores (same boundaries, same base fit) and every row gains
    # omission/refit fields; with merging on, the segment count can only
    # shrink and boundaries still tile each conv's span.
    from yatsm_spark.operators.changescore import change_scores_post

    base = change_scores(filled, "turn_count", CONV_PARAMS).toPandas()
    nomerge = change_scores_post(filled, "turn_count", CONV_PARAMS,
                                 commission_crit=None).toPandas()
    key = ["conv_id", "segment_id"]
    b = base.sort_values(key, kind="stable").reset_index(drop=True)
    n = nomerge.sort_values(key, kind="stable").reset_index(drop=True)
    assert len(b) == len(n)
    for col in ["conv_id", "segment_id", "start_ts", "end_ts", "rmse", "n_obs"]:
        assert (b[col].to_numpy() == n[col].to_numpy()).all(), col
    assert n["omission_score"].notna().all()
    assert n["robust_rmse"].notna().all()
    assert all(len(c) == 4 for c in n["robust_coef"])
    # robust refit must differ from OLS somewhere (different estimator)
    assert any(list(rc) != list(c) for rc, c in zip(n["robust_coef"], n["coef"]))

    merged = change_scores_post(filled, "turn_count", CONV_PARAMS,
                                commission_crit=3.0).toPandas()
    per_conv_m = merged.groupby("conv_id").size()
    per_conv_n = nomerge.groupby("conv_id").size()
    assert (per_conv_m <= per_conv_n.loc[per_conv_m.index]).all()
    # spans survive merging: first start / last end per conv unchanged
    for conv, g in merged.groupby("conv_id"):
        g0 = nomerge[nomerge.conv_id == conv]
        assert g["start_ts"].min() == g0["start_ts"].min()
        assert g["end_ts"].max() == g0["end_ts"].max()


def test_compact_chunks_decode_identical_and_fewer_rows(spark, filled):
    """compact_chunks re-frames many small chunks into few large ones;
    the decoded relation must be BIT-identical and the chunk count must
    actually shrink."""
    from yatsm_spark.operators.codec import compact_chunks

    small = encode_chunks(filled, "1m", chunk_points=64).cache()
    big = compact_chunks(small).cache()

    n_small, n_big = small.count(), big.count()
    assert n_big < n_small

    a = decode_chunks(small)
    b = decode_chunks(big)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # framing overhead shrinks too: compacted bytes <= original bytes
    import pyspark.sql.functions as F

    sz = lambda df: df.agg(F.sum(F.length("ts_codec")
                                 + F.length("val_codec"))).collect()[0][0]
    assert sz(big) <= sz(small)

    # chunk invariants survive: bounded size, starts align with slots
    assert big.filter("n_points > 4096").count() == 0
    # compaction is idempotent at the same target
    again = compact_chunks(big)
    assert big.exceptAll(again).count() == 0
    assert again.exceptAll(big).count() == 0
