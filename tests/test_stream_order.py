"""Stateful streaming steps see each group's micro-batch whole and in
window_start order, however Spark splits it into Arrow chunks
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows each) —
operators/series.py::per_series_stateful."""

import numpy as np
import pandas as pd
import pytest

from yatsm_spark.operators.kalman import kalman_smooth
from yatsm_spark.operators.series import per_series_stateful
from yatsm_spark.operators.tsfuncs import ewma
from yatsm_spark.streaming.stream_rollup import stream_ewma, stream_kalman

ROWS = "conv_id string, window_start timestamp, turn_count long"
CHUNK = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _run(spark, stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _small_chunks(spark, fn):
    old = spark.conf.get(CHUNK)
    spark.conf.set(CHUNK, "4")
    try:
        return fn()
    finally:
        spark.conf.set(CHUNK, old)


TWINS = {
    "ewma": (stream_ewma, lambda d: ewma(d, "turn_count"), ["ewma"]),
    "kalman": (stream_kalman, kalman_smooth, ["kalman_level", "kalman_var"]),
}


@pytest.mark.parametrize("twin", sorted(TWINS))
def test_twin_orders_a_micro_batch_split_across_arrow_chunks(spark, tmp_path,
                                                             twin):
    """One conv's 30 rows arrive in ONE file in descending time order, so
    one micro-batch reaches the step as 8 Arrow chunks of 4 rows."""
    stream_op, batch_op, cols = TWINS[twin]
    base = pd.Timestamp("2025-01-01")
    pdf = pd.DataFrame({
        "conv_id": "c1",
        "window_start": [base + pd.Timedelta(minutes=m) for m in range(29, -1, -1)],
        "turn_count": np.random.RandomState(5).randint(1, 50, 30)})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf, ROWS).coalesce(1).write.parquet(src)
    want = {r.window_start: tuple(r[c] for c in cols)
            for r in batch_op(spark.createDataFrame(pdf, ROWS)).collect()}

    stream = spark.readStream.schema(ROWS).parquet(src)
    rows = _small_chunks(spark, lambda: _run(spark, stream_op(stream),
                                             f"s_order_{twin}"))
    got = {r.window_start: tuple(r[c] for c in cols) for r in rows}
    assert len(got) == len(want) == 30
    assert got == want          # == on floats: bit-equality demanded


def test_step_sees_the_whole_group_sorted_with_a_fresh_index(spark, tmp_path):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"k": rng.choice(["a", "b", "c"], 90),
                        "t": rng.permutation(90).astype(np.int64)})
    src = str(tmp_path / "probe")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)

    def step(g, state):
        return pd.DataFrame({
            "k": [g["k"][0]], "n": [len(g)],
            "sorted": [bool(g["t"].is_monotonic_increasing)],
            "fresh_index": [g.index.equals(pd.RangeIndex(len(g)))]}), (len(g),)

    stream = spark.readStream.schema("k string, t long").parquet(src)
    out = per_series_stateful(stream, "k", "t", step,
                              ["k", "n long", "sorted boolean",
                               "fresh_index boolean"], ["seen long"],
                              name="probe")
    rows = _small_chunks(spark, lambda: _run(spark, out, "s_order_probe"))
    assert sorted(r.k for r in rows) == ["a", "b", "c"]
    assert sum(r.n for r in rows) == 90
    assert all(r.sorted and r.fresh_index for r in rows)
