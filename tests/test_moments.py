"""The tier-moment contract (operators/rollup.py::MOMENTS): every producer
of moment rows keeps its exact schema — names, types and nullability,
which decide REQUIRED vs OPTIONAL parquet columns and so stored bytes —
and the moment algebra is spelled out in rollup.py alone."""

import datetime as dt
import pathlib
import re

from yatsm_spark.ingest import with_measures
from yatsm_spark.operators.cascade import cascade, merge_rollups, realtime_view
from yatsm_spark.operators.codec import decode_chunks, encode_chunks
from yatsm_spark.operators.rollup import (
    gapfill,
    rollup_from_turns,
    rollup_from_turns_adaptive,
    rollup_from_turns_salted,
)
from yatsm_spark.operators.routing import route_range
from yatsm_spark.streaming.stream_rollup import stream_rollup_1m
from yatsm_spark.synth import TRANSCRIPT_SCHEMA, generate_transcripts

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "yatsm_spark"
UTC = dt.timezone.utc

_TAIL = ("token_len_sum", "token_len_min", "token_len_max", "token_len_sumsq",
         "tool_call_count", "role_user_count", "role_assistant_count",
         "role_other_count")


def _cols(turn_count, gap_filled=None, conv_id=False, window_start=True):
    """(name, type, nullable) per column, in order; None leaves a column out.
    Every moment but turn_count is a nullable bigint everywhere."""
    cols = [("conv_id", "string", conv_id)]
    if window_start is not None:
        cols.append(("window_start", "timestamp", window_start))
    cols.append(("turn_count", "bigint", turn_count))
    cols += [(c, "bigint", True) for c in _TAIL]
    if gap_filled is not None:
        cols.append(("gap_filled", "boolean", gap_filled))
    return cols


#: The schemas each producer emitted before the moment table existed.
#: count(1) keeps turn_count non-nullable straight off raw turns; a sum
#: over merged rows makes it nullable.
EXPECTED = {
    "rollup_from_turns": _cols(False, gap_filled=False),
    "rollup_from_turns_salted": _cols(True, gap_filled=False),
    "rollup_from_turns_adaptive": _cols(True, gap_filled=False),
    "gapfill": _cols(False, gap_filled=False),
    "cascade": _cols(True, gap_filled=True),
    "merge_rollups": _cols(True),
    "merge_rollups_gapfilled": _cols(True, gap_filled=True),
    "realtime_view": _cols(False),
    "route_range": _cols(True, window_start=None),
    "decode_chunks": _cols(True, gap_filled=False, window_start=False),
    "stream_rollup_1m": _cols(False, conv_id=True),
}


def _producers(spark, tmp_path):
    m = with_measures(generate_transcripts(spark, 4, seed=3, max_turns=200))
    sparse = rollup_from_turns(m, "1m")
    filled = gapfill(sparse, "1m")
    h1 = cascade(filled, "1m", "1h")
    wm = dt.datetime(2025, 1, 20, tzinfo=UTC)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(str(tmp_path))
    return {
        "rollup_from_turns": sparse,
        "rollup_from_turns_salted": rollup_from_turns_salted(m, "1m"),
        "rollup_from_turns_adaptive": rollup_from_turns_adaptive(m, "1m"),
        "gapfill": filled,
        "cascade": h1,
        "merge_rollups": merge_rollups(sparse.drop("gap_filled"),
                                       sparse.drop("gap_filled")),
        "merge_rollups_gapfilled": merge_rollups(filled, sparse, tier_name="1m"),
        "realtime_view": realtime_view(sparse, m, "1m", wm.replace(tzinfo=None)),
        "route_range": route_range(
            {"1m": sparse, "1h": h1}, dt.datetime(2025, 1, 2, 0, 30, tzinfo=UTC),
            dt.datetime(2025, 1, 22, 2, 3, tzinfo=UTC), fresh_measures=m,
            watermark=wm, chunks=encode_chunks(sparse, "1m")),
        "decode_chunks": decode_chunks(encode_chunks(filled, "1m")),
        "stream_rollup_1m": stream_rollup_1m(stream),
    }


def _schema(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def test_moment_producers_keep_their_schemas(spark, tmp_path):
    got = {name: _schema(df) for name, df in _producers(spark, tmp_path).items()}
    assert got == EXPECTED


def test_moment_algebra_lives_in_rollup_only():
    """Names only the moment algebra uses appear in operators/rollup.py
    alone; every other module derives its moment lists from there."""
    names = ("token_len_sumsq", "tool_call_count", "role_user_count",
             "role_assistant_count", "role_other_count")
    pat = re.compile("|".join(names))
    hits = {str(p.relative_to(PACKAGE)) for p in PACKAGE.rglob("*.py")
            if pat.search(p.read_text())}
    assert hits == {"operators/rollup.py"}
