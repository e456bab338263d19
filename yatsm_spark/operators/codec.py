"""Compressed chunk encode/decode — Arrow UDF wrappers over kernel.gorilla_vec.

The reference stores raw .npz (no compression — SURVEY.md §4); the graft
requires Gorilla-style delta-of-delta timestamps and compressed values
(BASELINE.json north_star, VLDB'20 compressed-TS lineage in PAPERS.md).
Chunk row schema per FIXTURES.md §2.3:

    (conv_id, tier, chunk_start, n_points, ts_codec binary, val_codec binary)

ts_codec is the delta-of-delta timestamp block of EVERY slot's epoch, gap
slots included. A chunk is one run of at most CHUNK_POINTS consecutive slots
of its tier: it covers [chunk_start, chunk_start + n_points slots).

val_codec layout (CHUNK_FORMAT_VERSION 5):
    [presence: n_points bits, byte-padded]   1 = real slot (not gap_filled)
    [mode: 8 bits]                           which identities the chunk uses
    then one nullable-int64 stream (kernel/gorilla_vec.py) per stored
    measure, over REAL slots only: turn_count's first, then the others in
    rollup.MEASURES order.
A gap slot carries no information — counts 0, stats null, gap_filled
true — so it costs its presence bit and nothing else. Which measures are
counts and which are stats comes from each moment's gap value in
rollup.MOMENTS (COUNT_COLS / STAT_COLS below). The encoder checks
that precondition (ValueError otherwise) and decode rebuilds the gap
slots. Each stream's length follows from the real-slot count and the
mode, so streams are concatenated without length prefixes. The int
streams are exact over the FULL int64 range (the float path is exact only
below 2^53, round-1 ADVICE).

The mode bits name exact identities (rollup.ROLE_SPLIT, rollup.SMALL_SLOT),
computed in int64 with wraparound; a derived value is null when one of its
operands is:
    bit 0  every real slot: other roles = turns - user - assistant. The
           other-role stream is left out.
    bit 1  every real 1-turn slot: min = max = sum, sumsq = sum²; every real
           2-turn slot: max = sum - min, sumsq = min² + max². The min stream
           covers only the real slots whose turn count is not 1, the max
           and sumsq streams only those whose turn count is neither 1 nor 2
           (3 or more in a rollup).
The encoder sets a bit when its identity holds on every slot it covers,
nulls included (a 1-turn slot with a null sum has all four stats null).
A chunk that breaks one stores those streams in full, so any int64 input
still round-trips bit-exactly. A reader decodes turn_count first and takes
each subset stream's ranks from its slot mask (a cumulative sum); every
stream keeps one fixed bit width. Chunks of a rollup tier have mode 3
(FULL_MODE) unless a turn's role is null or a 2-turn slot has exactly one
null token length; a pipeline bucket manifest counts the other chunks as
``chunks_1m_underived``.

Bounded chunks (CHUNK_POINTS ≈ 2.8 days of 1m) keep a mega-conv from
producing one giant row; each conv's slots reach the encoder in epoch order
through operators/series.py::per_series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from yatsm_spark.kernel import gorilla_vec as g_vec
from yatsm_spark.kernel.gapfill import gapfill_slots
from yatsm_spark.operators.rollup import (MEASURES, MOMENTS, ROLE_SPLIT,
                                          SMALL_SLOT, TIERS)
from yatsm_spark.operators.series import per_batch, per_series

COUNT_COLS = [m.name for m in MOMENTS if m.gap == 0]
STAT_COLS = [m.name for m in MOMENTS if m.gap is None]

#: Bumped whenever the persisted chunk byte layout changes; folded into the
#: pipeline's per-bucket checkpoint fingerprint so a resumed workdir written
#: by a different format re-encodes instead of mixing layouts.
CHUNK_FORMAT_VERSION = 5

#: The longest chunk (encode_chunks and chunk_rows raise ValueError above
#: it), the size compact_chunks writes and the bound ``routing.route_range``
#: prunes chunk scans with.
CHUNK_POINTS = 4096

CHUNK_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("chunk_start", T.TimestampType(), False),
    T.StructField("n_points", T.IntegerType(), False),
    T.StructField("ts_codec", T.BinaryType(), False),
    T.StructField("val_codec", T.BinaryType(), False),
])
_CHUNK_COLS = [f.name for f in CHUNK_SCHEMA.fields]

ROLLUP_SCHEMA = T.StructType(
    [T.StructField("conv_id", T.StringType(), False),
     T.StructField("window_start", T.TimestampType(), False)]
    + [T.StructField(m, T.LongType(), True) for m in MEASURES]
    + [T.StructField("gap_filled", T.BooleanType(), False)]
)

#: One conv's slots in epoch order: measure -> (int64 values, null mask).
Columns = dict[str, tuple[np.ndarray, np.ndarray]]


#: val_codec mode bits (layout in the module docstring).
ROLE_DERIVED = 0b01
SMALL_DERIVED = 0b10
FULL_MODE = ROLE_DERIVED | SMALL_DERIVED

_OTHER, _TURNS, _USER, _ASSISTANT = ROLE_SPLIT
_SUM, _MIN, _MAX, _SUMSQ = SMALL_SLOT[1:]
#: the measures each mode bit derives
_DERIVED = {ROLE_DERIVED: (_OTHER,), SMALL_DERIVED: (_MIN, _MAX, _SUMSQ)}


def _small_slots(turns: tuple[np.ndarray, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(1-turn, 2-turn) masks of real slots; a null turn count (value 0)
    is neither."""
    v, _ = turns
    return v == 1, v == 2


def _streams(mode: int, turns: tuple[np.ndarray, np.ndarray]) -> dict[str, np.ndarray]:
    """Stored measure -> the real slots its stream covers, in stream order
    (turn_count first). A measure that is not a key is not stored."""
    every = np.ones(len(turns[0]), dtype=bool)
    out = {_TURNS: every} | {m: every for m in MEASURES if m != _TURNS}
    if mode & ROLE_DERIVED:
        del out[_OTHER]
    if mode & SMALL_DERIVED:
        one, two = _small_slots(turns)
        out[_MIN] = ~one
        out[_MAX] = out[_SUMSQ] = ~(one | two)
    return out


def _rebuild(cols: Columns, mode: int) -> None:
    """Overwrite, in the real-slot columns, the values that ``mode``'s
    identities give (int64 with wraparound; null when an operand is null,
    0 at null slots)."""
    def put(m, mask, v, null):
        cols[m][0][mask] = np.where(null, 0, v)[mask]
        cols[m][1][mask] = null[mask]

    if mode & SMALL_DERIVED:
        one, two = _small_slots(cols[_TURNS])
        s, s_null = cols[_SUM]
        put(_MIN, one, s, s_null)
        put(_MAX, one, s, s_null)
        put(_SUMSQ, one, s * s, s_null)
        lo, lo_null = cols[_MIN]
        put(_MAX, two, s - lo, s_null | lo_null)
        hi, hi_null = cols[_MAX]
        put(_SUMSQ, two, lo * lo + hi * hi, hi_null)
    if mode & ROLE_DERIVED:
        (t, t_null), (u, u_null), (a, a_null) = cols[_TURNS], cols[_USER], cols[_ASSISTANT]
        put(_OTHER, np.ones(len(t), dtype=bool), t - u - a, t_null | u_null | a_null)


def encode_values(gap: np.ndarray, cols: Columns) -> bytes:
    """One chunk's val_codec (layout in the module docstring)."""
    real = ~gap
    real_cols = {m: (np.where(null, 0, v)[real], null[real]) for m, (v, null) in cols.items()}
    mode = 0
    for bit, derived in _DERIVED.items():
        trial = real_cols | {m: tuple(a.copy() for a in real_cols[m]) for m in derived}
        _rebuild(trial, bit)
        if all(np.array_equal(trial[m][i], real_cols[m][i]) for m in derived for i in (0, 1)):
            mode |= bit
    parts = [np.packbits(real).tobytes(), bytes([mode])]
    for m, cover in _streams(mode, real_cols[_TURNS]).items():
        v, null = real_cols[m]
        parts.append(g_vec.encode_int_stream(v[cover], null[cover]))
    return b"".join(parts)


def decode_values(buf: bytes, n: int) -> tuple[np.ndarray, Columns]:
    """val_codec of n slots -> (gap_filled, measure -> (values with 0 at
    null slots, null mask)), gap slots rebuilt as count 0 / stat null."""
    nb = (n + 7) // 8
    real = np.unpackbits(np.frombuffer(buf, np.uint8, nb), count=n).astype(bool)
    k = int(real.sum())
    mode = buf[nb]
    v, null, pos = g_vec.decode_int_stream(buf, nb + 1, k)
    real_cols = {_TURNS: (v, null)}
    for m, cover in _streams(mode, real_cols[_TURNS]).items():
        if m == _TURNS:
            continue
        v, null, pos = g_vec.decode_int_stream(buf, pos, int(cover.sum()))
        vals, nulls = np.zeros(k, dtype=np.int64), np.zeros(k, dtype=bool)
        vals[cover], nulls[cover] = v, null
        real_cols[m] = (vals, nulls)
    assert pos == len(buf)
    for m in MEASURES:
        real_cols.setdefault(m, (np.zeros(k, dtype=np.int64), np.zeros(k, dtype=bool)))
    _rebuild(real_cols, mode)
    cols = {}
    for m in MEASURES:
        vals = np.zeros(n, dtype=np.int64)
        vals[real] = real_cols[m][0]
        nulls = np.full(n, m in STAT_COLS)
        nulls[real] = real_cols[m][1]
        cols[m] = (vals, nulls)
    return ~real, cols


def count_underived() -> Column:
    """Aggregate: chunk rows whose mode byte, the byte after the presence
    bitmap, is not FULL_MODE. Reads the byte without decoding."""
    mode = F.col("val_codec").substr(F.ceil(F.col("n_points") / 8).cast("int") + 1, F.lit(1))
    return F.count_if(mode != F.lit(bytes([FULL_MODE])))


def _check_points(chunk_points: int) -> None:
    if not 0 < chunk_points <= CHUNK_POINTS:
        raise ValueError(f"chunk_points={chunk_points} outside [1, CHUNK_POINTS={CHUNK_POINTS}]")


def chunk_rows(conv_id: str, tier: str, epochs: np.ndarray, gap: np.ndarray,
               cols: Columns, chunk_points: int = CHUNK_POINTS) -> pd.DataFrame:
    """One conv's slots (epoch order) -> chunk rows, each a run of at most
    chunk_points consecutive slots. Raises ValueError above CHUNK_POINTS or
    if a gap slot carries a nonzero count or a non-null stat: those values
    would not survive the round trip."""
    _check_points(chunk_points)
    gap = np.asarray(gap, dtype=bool)
    bad = ([m for m in COUNT_COLS if (cols[m][0][gap] != 0).any()]
           + [m for m in STAT_COLS if not cols[m][1][gap].all()])
    if bad:
        raise ValueError(f"{conv_id}: gap_filled slots carry values in {bad}")
    breaks = [*np.flatnonzero(np.diff(epochs) != TIERS[tier]) + 1]
    rows = []
    for run_lo, run_hi in zip([0, *breaks], [*breaks, len(epochs)]):
        for lo in range(run_lo, run_hi, chunk_points):
            sl = slice(lo, min(lo + chunk_points, run_hi))
            part = {m: (v[sl], nm[sl]) for m, (v, nm) in cols.items()}
            rows.append((conv_id, tier, pd.Timestamp(int(epochs[lo]), unit="s"), len(epochs[sl]),
                         g_vec.encode_timestamps_block(epochs[sl]), encode_values(gap[sl], part)))
    return pd.DataFrame(rows, columns=_CHUNK_COLS)


def _decode_chunk(n_points, ts_codec, val_codec) -> tuple[np.ndarray, np.ndarray, Columns]:
    """-> (epochs, gap_filled, columns) of one chunk row."""
    epochs = g_vec.decode_timestamps_block(bytes(ts_codec))
    gap, cols = decode_values(bytes(val_codec), int(n_points))
    return epochs, gap, cols


def encode_chunks(rollup: DataFrame, tier: str,
                  chunk_points: int = CHUNK_POINTS) -> DataFrame:
    """Rollup tier, sparse or gap-filled -> compressed chunk rows (one
    shuffle on conv_id); ValueError above CHUNK_POINTS. The kernel reindexes
    each conv onto its slot grid (kernel/gapfill.py: counts 0, stats null,
    gap_filled true), so both forms give the same chunks (tested) and a
    sparse tier shuffles only its real slots."""
    _check_points(chunk_points)
    step = TIERS[tier]

    # Null stat slots are split into (coalesced long, notnull flag) BEFORE
    # the Arrow boundary: Arrow->pandas turns a long column CONTAINING nulls
    # into float64, which rounds values above 2^53 before the kernel ever
    # sees them (round-2 ADVICE). With no nulls present the transfer stays
    # int64 end to end; a non-integer measure now fails loudly at the cast
    # in Catalyst instead of being truncated silently.
    sel = [F.col("conv_id"), F.col("window_start"), F.col("gap_filled")]
    for m in COUNT_COLS:
        sel.append(F.coalesce(F.col(m), F.lit(0)).cast("long").alias(m))
    for m in STAT_COLS:
        sel.append(F.coalesce(F.col(m), F.lit(0)).cast("long").alias(m))
        sel.append(F.col(m).isNotNull().alias(f"_nn_{m}"))
    rollup = rollup.select(*sel)

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-conv numpy encode: every series is converted to
        (int64 values, null mask) ONCE per conv — int64-exact end to end,
        no float round-trip — then chunk_rows slices numpy arrays.
        (Per-chunk pandas ops were ~2x the actual codec cost.)"""
        epochs = pdf["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64)
        # notnull flags and the input's gap flag cross the reindex as int64
        # (0-filled): no float64 detour for stats, and a gap row carrying a
        # value still reaches chunk_rows' check.
        grid_in = {c: pdf[c].to_numpy(dtype=np.int64)
                   for c in MEASURES + [f"_nn_{c}" for c in STAT_COLS]}
        grid_in["_gap"] = pdf["gap_filled"].to_numpy(dtype=np.int64)
        dense = gapfill_slots(epochs, grid_in, step=step)
        gap = dense["gap_filled"] | (dense["_gap"] != 0)
        cols = {c: (dense[c], dense[f"_nn_{c}"] == 0 if c in STAT_COLS
                    else np.zeros(len(gap), dtype=bool)) for c in MEASURES}
        return chunk_rows(pdf["conv_id"].iloc[0], tier, dense["slot_epoch"], gap,
                          cols, chunk_points)

    return per_series(rollup, "conv_id", "window_start", enc, CHUNK_SCHEMA,
                      name="encode_chunks")


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Compressed chunks -> rollup rows (decode-path reader for parity
    checks and tier-serving). mapInPandas: no shuffle at all."""

    def dec(pdf):
        frames = []
        for conv_id, *chunk in zip(pdf["conv_id"], pdf["n_points"],
                                   pdf["ts_codec"], pdf["val_codec"]):
            epochs, gap, cols = _decode_chunk(*chunk)
            d = {"conv_id": conv_id,
                 "window_start": epochs.astype("datetime64[s]").astype("datetime64[us]")}
            for m, (v, null) in cols.items():
                d[m] = pd.arrays.IntegerArray(v, null)
            d["gap_filled"] = gap
            frames.append(pd.DataFrame(d))
        return pd.concat(frames, ignore_index=True)

    return per_batch(chunks, dec, ROLLUP_SCHEMA, name="decode_chunks")


def compact_chunks(chunks: DataFrame) -> DataFrame:
    """Chunk-table compaction (the TimescaleDB ``compress_chunk``
    maintenance analog): per (conv, tier), decode every chunk, stitch the
    point streams back together in chunk_start order, and re-encode at
    CHUNK_POINTS — many small chunks (written by frequent incremental
    eviction runs) become few large ones, shrinking both the chunk-row
    count the serve path scans and the per-chunk codec framing overhead.
    A break in the slot grid between two input chunks still ends a chunk.

    Invariant (tested): ``decode_chunks(compact_chunks(x))`` is
    bit-identical to ``decode_chunks(x)`` — same slots, same values, same
    null mask, same gap flags — because the codec round-trip is exact and
    compaction only re-frames chunk boundaries. One groupBy shuffle on
    (conv_id, tier); per-group memory is the conv's decoded history,
    which the retention driver already bounds (chunks only cover the
    evicted window, rollup.py TTL contract)."""

    def compact(pdf: pd.DataFrame) -> pd.DataFrame:
        epochs, gaps, parts = zip(*(_decode_chunk(*c) for c in zip(
            pdf["n_points"], pdf["ts_codec"], pdf["val_codec"])))
        cols = {m: (np.concatenate([p[m][0] for p in parts]),
                    np.concatenate([p[m][1] for p in parts])) for m in MEASURES}
        return chunk_rows(pdf["conv_id"].iloc[0], pdf["tier"].iloc[0],
                          np.concatenate(epochs), np.concatenate(gaps), cols)

    return per_series(chunks, ["conv_id", "tier"], "chunk_start", compact,
                      CHUNK_SCHEMA, name="compact_chunks")
