"""Chunk value layout (operators/codec.py): gap slots cost one presence bit
and carry nothing else, decode rebuilds them exactly, the encoder refuses a
gap slot that carries a value, the mode byte names the identities a chunk
leaves values out by, and a chunk is one run of at most CHUNK_POINTS
consecutive slots."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from yatsm_spark.operators import codec as C
from yatsm_spark.operators.rollup import MEASURES, gapfill
from yatsm_spark.operators.routing import route_range

BASE = pd.Timestamp("2025-01-01")


@pytest.fixture(scope="module")
def sparse(spark):
    """conv 'a': two bursts 10,000 minutes apart, a gap longer than a chunk;
    conv 'b': three slots, one with null stats, one at the int64 limit.
    Every measure is i+1, so the role identity fails on every slot and the
    2-turn identity on every non-null 2-turn slot: the explicit layout."""
    rows = []
    for conv, minutes in (("a", [0, 1, 2, 10_000, 10_001]), ("b", [5, 6, 9])):
        for i, minute in enumerate(minutes):
            vals = {m: i + 1 for m in MEASURES}
            if (conv, i) == ("b", 1):
                vals.update(token_len_sum=None, token_len_min=None,
                            token_len_max=None, token_len_sumsq=None)
            if (conv, i) == ("b", 2):
                vals["token_len_sumsq"] = 2**63 - 1
            rows.append((conv, (BASE + pd.Timedelta(minutes=minute)).to_pydatetime(),
                         *(vals[m] for m in MEASURES), False))
    df = spark.createDataFrame(rows, C.ROLLUP_SCHEMA).cache()
    df.count()
    return df


def test_chunk_with_zero_real_slots_round_trips(spark, sparse):
    filled = gapfill(sparse, "1m")
    dense = C.encode_chunks(filled, "1m").cache()
    # the scale path (sparse input, reindexed in the kernel) writes the same rows
    densified = C.encode_chunks(sparse, "1m")
    assert dense.exceptAll(densified).count() == 0
    assert densified.exceptAll(dense).count() == 0

    rows = dense.filter("conv_id = 'a'").orderBy("chunk_start").collect()
    assert [r.n_points for r in rows] == [4096, 4096, 10_002 - 2 * 4096]
    gap, cols = C.decode_values(bytes(rows[1].val_codec), 4096)
    assert gap.all()
    assert all((cols[m][0] == 0).all() for m in MEASURES)
    assert all(cols[m][1].all() for m in C.STAT_COLS)
    assert not any(cols[m][1].any() for m in C.COUNT_COLS)
    # one presence bit per slot, the mode byte, then per stored measure an
    # empty stream (has_nulls byte + min + width): with no real slot both
    # identities hold, so the derived role count is not stored
    assert len(rows[1].val_codec) == 4096 // 8 + 1 + (len(MEASURES) - 1) * 10

    back = C.decode_chunks(dense)
    assert back.exceptAll(filled).count() == 0 and filled.exceptAll(back).count() == 0
    dense.unpersist()


def test_chunk_mode_bytes(sparse):
    """The mode byte follows the presence bitmap: conv 'a's first chunk
    breaks both identities (0), its all-gap chunk holds both vacuously (3),
    and its last chunk and conv 'b' (a 2-turn slot with null stats) keep
    only the small-slot identity (2)."""
    chunks = C.encode_chunks(gapfill(sparse, "1m"), "1m").orderBy("conv_id", "chunk_start")
    modes = [(r.conv_id, r.val_codec[(r.n_points + 7) // 8]) for r in chunks.collect()]
    assert modes == [("a", 0), ("a", C.FULL_MODE), ("a", C.SMALL_DERIVED),
                     ("b", C.SMALL_DERIVED)]


def _columns(n, gap):
    cols = {m: (np.ones(n, dtype=np.int64), np.zeros(n, dtype=bool)) for m in MEASURES}
    for m in MEASURES:
        cols[m][0][gap] = 0
    for m in C.STAT_COLS:
        cols[m][1][gap] = True
    return cols


def test_encoder_rejects_values_on_gap_slots():
    epochs = np.arange(4, dtype=np.int64) * 60
    gap = np.array([False, True, True, False])
    assert len(C.chunk_rows("c", "1m", epochs, gap, _columns(4, gap), 4096)) == 1

    cols = _columns(4, gap)
    cols["token_len_max"][1][2] = False  # one non-null stat on a gap row
    with pytest.raises(ValueError, match=r"\['token_len_max'\]"):
        C.chunk_rows("c", "1m", epochs, gap, cols, 4096)

    cols = _columns(4, gap)
    cols["turn_count"][0][1] = 3
    with pytest.raises(ValueError, match=r"\['turn_count'\]"):
        C.chunk_rows("c", "1m", epochs, gap, cols, 4096)


def test_encode_chunks_rejects_stat_on_gap_row(spark, sparse):
    filled = gapfill(sparse, "1m")
    first_gap = F.lit(BASE + pd.Timedelta(minutes=3)).cast("timestamp")
    bad = filled.withColumn(
        "token_len_max",
        F.when((F.col("conv_id") == "a") & (F.col("window_start") == first_gap), F.lit(7))
        .otherwise(F.col("token_len_max")))
    assert bad.filter("gap_filled AND token_len_max IS NOT NULL").count() == 1
    with pytest.raises(Exception, match="gap_filled slots carry values"):
        C.encode_chunks(bad, "1m").collect()


def test_chunks_hold_at_most_chunk_points(spark, sparse):
    """CHUNK_POINTS bounds every chunk the codec writes, which is what the
    router prunes chunk scans by: a longer chunk is refused, not written."""
    with pytest.raises(ValueError, match="CHUNK_POINTS"):
        C.encode_chunks(sparse, "1m", chunk_points=C.CHUNK_POINTS + 1)
    epochs = np.arange(4, dtype=np.int64) * 60
    gap = np.zeros(4, dtype=bool)
    with pytest.raises(ValueError, match="CHUNK_POINTS"):
        C.chunk_rows("c", "1m", epochs, gap, _columns(4, gap), C.CHUNK_POINTS + 1)


def test_compaction_keeps_chunks_on_the_slot_grid(spark, sparse):
    """Chunks encoded apart (conv 'a's two bursts) compact into one chunk
    per run of consecutive slots, never one spanning the break, decode to
    the same rows and serve a routed read of the second run."""
    early = F.col("window_start") < F.lit(BASE + pd.Timedelta(minutes=100))
    apart = C.encode_chunks(sparse.where(early), "1m", chunk_points=2) \
        .unionByName(C.encode_chunks(sparse.where(~early), "1m", chunk_points=2))
    compacted = C.compact_chunks(apart)
    got = [(r.conv_id, r.chunk_start, r.n_points)
           for r in compacted.orderBy("conv_id", "chunk_start").collect()]
    assert got == [("a", BASE.to_pydatetime(), 3),
                   ("a", (BASE + pd.Timedelta(minutes=10_000)).to_pydatetime(), 2),
                   ("b", (BASE + pd.Timedelta(minutes=5)).to_pydatetime(), 5)]
    a, b = C.decode_chunks(apart), C.decode_chunks(compacted)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # a chunk spanning the break would be pruned from a read of its tail
    got = route_range({"1m": sparse.where("false")}, BASE + pd.Timedelta(minutes=10_000),
                      BASE + pd.Timedelta(minutes=10_002), chunks=compacted).collect()
    assert [(r.conv_id, r.turn_count) for r in got] == [("a", 4 + 5)]
