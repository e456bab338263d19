"""The engine's Arrow boundary (operators/series.py): the contracts of
``per_series`` and ``per_batch``, the plan shape of every operator routed
through ``per_series``, and source guards that keep grouped and ungrouped
Arrow maps from being written out by hand again."""

import ast
import pathlib
import re

import numpy as np
import pandas as pd
import pytest

from tests.test_plans import plan_of
from yatsm_spark.operators import (changepoint, changescore, codec, downsample,
                                   kalman, matrixprofile, packing, tsfuncs)
from yatsm_spark.operators.rollup import MEASURES
from yatsm_spark.operators.series import per_batch, per_series

OPERATORS = pathlib.Path(__file__).resolve().parents[1] / "yatsm_spark" / "operators"


@pytest.fixture(scope="module")
def tier(spark):
    rows = [{"conv_id": f"c{c}",
             "window_start": pd.Timestamp(1_735_689_600 + 60 * i, unit="s"),
             **{m: (i * 7 + c * 3) % 11 + 1 for m in MEASURES},
             "gap_filled": False}
            for c in range(3) for i in range(40)]
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=0)
    return spark.createDataFrame(pdf, schema=codec.ROLLUP_SCHEMA)


@pytest.fixture(scope="module")
def chunks(spark):
    ep = 1_735_689_600 + 60 * np.arange(40, dtype=np.int64)
    cols = {m: (np.arange(40, dtype=np.int64), np.zeros(40, bool)) for m in MEASURES}
    rows = codec.chunk_rows("c0", "1m", ep, np.zeros(40, bool), cols, 8)
    return spark.createDataFrame(rows.sample(frac=1.0, random_state=0),
                                 schema=codec.CHUNK_SCHEMA)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(20, dtype=np.int64),
        "source": ["a", "b"] * 10,
        "text": [" ".join(["w"] * (i % 7 + 1)) for i in range(20)]}))


OPS = {
    "ewma": lambda t, ch, d: tsfuncs.ewma(t, "turn_count"),
    "holt": lambda t, ch, d: tsfuncs.holt(t, "turn_count"),
    "holt_winters": lambda t, ch, d: tsfuncs.holt_winters(t, "turn_count", period=4),
    "holt_winters_backtest": lambda t, ch, d: tsfuncs.holt_winters_backtest(
        t, "turn_count", period=4),
    "theil_sen": lambda t, ch, d: tsfuncs.theil_sen(t),
    "matrix_profile": lambda t, ch, d: matrixprofile.matrix_profile(t, m=4),
    "left_matrix_profile": lambda t, ch, d: matrixprofile.left_matrix_profile(
        t, m=4, w_hist=8),
    "ab_join_profile": lambda t, ch, d: matrixprofile.ab_join_profile(t, "c0", m=4),
    "lttb": lambda t, ch, d: downsample.lttb(t, n_out=5),
    "swing_door": lambda t, ch, d: downsample.swing_door(t),
    "burst_intervals": lambda t, ch, d: changepoint.burst_intervals(
        t.select("conv_id", t.window_start.alias("ts"))),
    "pelt_changepoints": lambda t, ch, d: changepoint.pelt_changepoints(t),
    "kalman_smooth": lambda t, ch, d: kalman.kalman_smooth(t),
    "change_scores": lambda t, ch, d: changescore.change_scores(t),
    "change_scores_post": lambda t, ch, d: changescore.change_scores_post(t),
    "change_scores_multi": lambda t, ch, d: changescore.change_scores_multi(
        t, ["turn_count", "token_len_sum"]),
    "encode_chunks": lambda t, ch, d: codec.encode_chunks(t, "1m", chunk_points=16),
    "compact_chunks": lambda t, ch, d: codec.compact_chunks(ch),
    "pack_documents": lambda t, ch, d: packing.pack_documents(d, 8, n_shards=2),
}
CCDC_OPS = {"change_scores", "change_scores_post", "change_scores_multi"}


@pytest.mark.parametrize("op", sorted(OPS))
def test_one_exchange_below_the_grouped_map(spark, tier, chunks, docs, op):
    """Each routed operator shuffles exactly once; for the CCDC stages it is
    the grouping's own exchange at the session width."""
    plan = plan_of(lambda: OPS[op](tier, chunks, docs), "simple")
    lines = plan.splitlines()
    top = next(i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln)
    exchanges = [ln for ln in lines[top + 1:] if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    if op in CCDC_OPS:
        assert re.search(r"Exchange hashpartitioning\(conv_id#\d+, \d+\), "
                         r"ENSURE_REQUIREMENTS", exchanges[0]), plan


def test_kernel_sees_its_group_sorted_with_a_fresh_index(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"k": rng.choice(["a", "b", "c"], 300),
                        "t": rng.permutation(300).astype(np.int64)})
    df = spark.createDataFrame(pdf).repartition(4)

    def kernel(g):
        return pd.DataFrame({
            "k": [g["k"].iloc[0]], "n": [len(g)],
            "sorted": [bool(g["t"].is_monotonic_increasing)],
            "fresh_index": [g.index.equals(pd.RangeIndex(len(g)))]})

    got = per_series(df, "k", "t", kernel,
                     ["k", "n long", "sorted boolean", "fresh_index boolean"],
                     name="probe").toPandas()
    assert sorted(got["k"]) == ["a", "b", "c"]
    assert got["n"].sum() == 300
    assert got["sorted"].all() and got["fresh_index"].all()


def test_none_from_the_kernel_yields_no_rows_of_the_declared_schema(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "k": ["a", "a", "b"], "t": pd.date_range("2026-01-01", periods=3, freq="h")}))
    out = per_series(df, "k", "t",
                     lambda g: None if g["k"].iloc[0] == "a" else g.assign(x=1.5),
                     ["k", "t", "x double"], name="probe")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("k", "string"), ("t", "timestamp"), ("x", "double")]
    assert [tuple(r) for r in out.collect()] == [
        ("b", pd.Timestamp("2026-01-01 02:00").to_pydatetime(), 1.5)]
    none = per_series(df, "k", "t", lambda g: None, ["k", "t", "x double"], name="probe")
    assert none.count() == 0 and none.schema == out.schema


def test_max_n_guard_names_the_operator(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 3, "t": [3, 1, 2]}))
    out = per_series(df, "k", "t", lambda g: g, ["k", "t"], max_n=2,
                     name="probe_op")
    with pytest.raises(Exception, match=r"probe_op: series of 3 rows exceeds max_n=2"):
        out.collect()


def test_grouped_maps_go_through_per_series():
    """Only the helper itself and bpe (one row per group, nothing to sort)
    call applyInPandas."""
    hits = {p.name for p in OPERATORS.glob("*.py") if "applyInPandas(" in p.read_text()}
    assert hits == {"series.py", "bpe.py"}


def test_stateful_maps_go_through_per_series_stateful():
    """The streaming twins carry per-group state only through the helper,
    which sorts each group's micro-batch as a whole."""
    pkg = OPERATORS.parent
    hits = {p.relative_to(pkg).as_posix() for p in pkg.rglob("*.py")
            if "applyInPandasWithState(" in p.read_text()}
    assert hits == {"operators/series.py"}


def test_none_or_empty_from_fn_yields_no_rows_of_the_declared_schema(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "k": ["a", "b", "c"], "t": pd.date_range("2026-01-01", periods=3, freq="h")}))
    for fn in (lambda pdf: None, lambda pdf: pdf.iloc[:0].assign(x=1.5)):
        out = per_batch(df, fn, ["k", "t", "x double"], name="probe")
        assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
            ("k", "string"), ("t", "timestamp"), ("x", "double")]
        assert list(out.toPandas().columns) == ["k", "t", "x"]
        assert out.count() == 0


def test_per_batch_keeps_rows_and_reads_the_payload(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": np.arange(50, dtype=np.int64)})) \
        .repartition(3)
    out = per_batch(df, lambda pdf, table: pdf.assign(y=table[pdf["x"] % 4]),
                    ["x", "y double"], name="probe",
                    payload=np.array([0.5, 1.5, 2.5, 3.5]))
    got = out.toPandas().sort_values("x", ignore_index=True)
    assert got["x"].tolist() == list(range(50))
    assert got["y"].tolist() == [0.5 + (x % 4) for x in range(50)]


def test_per_batch_skips_empty_batches_and_empty_outputs(spark, monkeypatch):
    """The helper's own loop, run locally on hand-made batches."""
    df = spark.range(1)
    monkeypatch.setattr(type(df), "mapInPandas", lambda self, run, schema: run)
    seen = []

    def fn(pdf):
        seen.append(len(pdf))
        return None if len(pdf) == 1 else pdf

    run = per_batch(df, fn, ["id"], name="probe")
    batches = [pd.DataFrame({"id": v}, dtype="int64")
               for v in ([], [1], [], [2, 3], [4, 5, 6])]
    assert [len(o) for o in run(iter(batches))] == [2, 3]
    assert seen == [1, 2, 3]


def test_boundary_stages_are_named_after_their_operator(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "t": [1]}))
    plan = plan_of(lambda: per_batch(df, lambda pdf: pdf, ["k", "t"],
                                     name="probe_batch"), "simple")
    assert re.search(r"MapInPandas probe_batch\(", plan), plan
    plan = plan_of(lambda: per_series(df, "k", "t", lambda g: g, ["k", "t"],
                                      name="probe_series"), "simple")
    assert re.search(r"FlatMapGroupsInPandas \[k#\d+\], probe_series\(", plan), plan


def test_arrow_maps_go_through_per_batch():
    """Only the helper itself maps Arrow batches without grouping."""
    hits = {p.name for p in OPERATORS.glob("*.py") if "mapInPandas(" in p.read_text()}
    assert hits == {"series.py"}


#: Every operator names its table's columns: conv_id/window_start on a tier,
#: conv_id/ts/turn_idx/role on turns, user_id/ts/event_id/event_type on
#: events, doc_id/text/source on documents, vec_id/embedding on embeddings,
#: doc_a/doc_b and conv_a/conv_b on pair tables. Only the helpers whose
#: callers pass different keys take a key or order column.
KEY_OPTIONS = {"by", "order_col", "ts_col", "key_col", "time_col"}
KEYED_HELPERS = {"operators/series.py", "operators/joins.py", "operators/bloomjoin.py"}


def test_series_functions_take_no_key_or_time_column_option():
    """A table's columns are facts of its schema, not options: no public
    function under operators/ or streaming/ declares a key or time column
    (outside KEYED_HELPERS), nor a defaulted ``*_col`` other than
    ``value_col``, which selects the tier measure to read."""
    hits = []
    modules = [*OPERATORS.glob("*.py"), *(OPERATORS.parent / "streaming").glob("*.py")]
    for path in sorted(modules):
        rel = path.relative_to(OPERATORS.parent).as_posix()
        for fn in ast.parse(path.read_text()).body:
            if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                a = fn.args
                params = a.posonlyargs + a.args
                defaulted = {p.arg for p in params[len(params) - len(a.defaults):]}
                defaulted |= {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None}
                hits += [f"{rel}::{fn.name}({p.arg})" for p in params + a.kwonlyargs
                         if p.arg in KEY_OPTIONS and rel not in KEYED_HELPERS
                         or p.arg in defaulted and p.arg.endswith("_col")
                         and p.arg != "value_col"]
    assert hits == []
