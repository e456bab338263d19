"""Engine facade (SURVEY.md §3 CLI-surface analogues)."""

import pytest
from pyspark.sql import functions as F

from tests.test_plans import plan_of
from yatsm_spark.api import Engine
from yatsm_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def engine(spark):
    tx = generate_transcripts(spark, 30, seed=5, max_turns=2000).cache()
    tx.count()
    return Engine(spark, tx)


def test_explain_conv_pushes_down_and_returns_series(engine):
    out = engine.explain_conv("conv00000006")
    series = out["series"]
    assert series.select("conv_id").distinct().count() == 1
    assert "token_len_avg" in series.columns
    # predicate reaches the scan: single-conv plan must not aggregate others
    plan = plan_of(lambda: engine.explain_conv("conv00000006")["series"], "simple")
    assert "conv00000006" in plan
    segs = out["segments"]
    assert segs.filter(F.col("conv_id") != "conv00000006").count() == 0


def test_snapshot_at_picks_latest_started_segment(engine):
    segs = engine.segments().cache()
    if segs.count() == 0:
        pytest.skip("no segments at this scale")
    at = segs.agg(F.max("start_ts")).collect()[0][0]
    snap = engine.snapshot_at(segs, at)
    assert snap.groupBy("conv_id").count().filter("count > 1").count() == 0


def test_changemap_counts_breaks(engine):
    segs = engine.segments()
    cm = engine.changemap(segs)
    n_breaks = segs.filter(F.col("break_ts").isNotNull()).count()
    assert cm.agg(F.sum("num_changes")).collect()[0][0] == (n_breaks or None)


def test_phenology_surface(engine):
    ph = engine.phenology()
    assert {"peak_hour", "rise_hour", "fall_hour", "pheno_cor",
            "pheno_nobs"} <= set(ph.columns)
    assert ph.count() == 30  # one row per conv
    assert ph.filter((F.col("peak_hour") < 0) | (F.col("peak_hour") > 23)).count() == 0


def test_train_classify_surface(engine, spark):
    from pyspark.sql import Row

    segs = engine.segments(phenology=True).cache()
    if segs.count() < 10:
        pytest.skip("too few segments at this scale")
    # pheno fields must be present end-to-end
    assert "peak_hour" in segs.columns
    convs = [r.conv_id for r in segs.select("conv_id").distinct().collect()]
    labels = spark.createDataFrame(
        [Row(conv_id=c, label="even" if int(c[-1]) % 2 == 0 else "odd")
         for c in convs])
    model = engine.train_classifier(segs, labels, n_trees=5, seed=1)
    pred = engine.classify(segs, model)
    assert {"class", "class_proba"} <= set(pred.columns)
    assert pred.count() == segs.count()


def test_map_predict_matches_kernel_design(engine):
    """predicted == numpy X(d)·coef for every snapshot row (§3.3)."""
    import numpy as np
    import pandas as pd

    from yatsm_spark.kernel.design import harmonic_design
    from yatsm_spark.operators.changescore import CONV_PARAMS

    segs = engine.segments().cache()
    if segs.count() == 0:
        pytest.skip("no segments at this scale")
    at = segs.agg(F.max("start_ts")).collect()[0][0]
    out = engine.map_predict(segs, at).toPandas()
    assert len(out) > 0
    t_day = pd.Timestamp(at).timestamp() / 86400.0
    xd = harmonic_design(np.array([t_day]), order=CONV_PARAMS.harmonic_order,
                         period=CONV_PARAMS.period)[0]
    for _, r in out.iterrows():
        want = float(np.dot(np.asarray(r["coef"], dtype=float), xd))
        assert r["predicted"] == pytest.approx(want, rel=1e-9, abs=1e-9)


def test_monitoring_toolkit_surface(engine):
    """The facade's monitoring methods run end-to-end on the engine's
    own tier lineage and return the documented schemas."""
    ep = engine.alert_episodes(k=10, sigma=3, min_n=5)
    assert set(ep.columns) == {"conv_id", "episode_start", "episode_end",
                               "n_slots", "peak_zscore", "peak_value"}
    ep.limit(1).collect()
    cp = engine.changepoints()
    assert {"conv_id", "cp_ord", "idx", "window_start",
            "n_changepoints"} == set(cp.columns)
    cp.limit(1).collect()
    bu = engine.bursts(s=3.0)
    assert "burst_start" in bu.columns and "n_events" in bu.columns
    bu.limit(1).collect()
    mp = engine.profile(m=6)
    assert {"conv_id", "idx", "window_start", "mp", "mp_idx"} \
        == set(mp.columns)
    mp.limit(1).collect()


def test_serve_range_matches_raw_aggregation(engine):
    from yatsm_spark.ingest import with_measures

    qs, qe, wm = ("2025-01-02 00:30:00", "2025-01-25 02:03:00",
                  "2025-01-20 00:00:00")
    got = engine.serve_range(qs, qe, watermark=wm) \
        .toPandas().set_index("conv_id").sort_index()
    m = with_measures(engine.transcripts)
    want = (m.where((F.col("ts") >= F.lit(qs)) & (F.col("ts") < F.lit(qe)))
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("turn_count"),
                 F.sum("token_len").alias("token_len_sum"))
            .toPandas().set_index("conv_id").sort_index())
    assert list(got.index) == list(want.index)
    assert (got["turn_count"] == want["turn_count"]).all()
    assert (got["token_len_sum"] == want["token_len_sum"]).all()
