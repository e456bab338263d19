"""Property-based round-trip tests for the block codecs and the chunk value
layout (hypothesis)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from yatsm_spark.kernel import gorilla_vec as gv
from yatsm_spark.operators import codec as C
from yatsm_spark.operators.rollup import MEASURES, ROLE_SPLIT, SMALL_SLOT

floats = st.lists(
    st.one_of(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        st.integers(-1000, 1000).map(float),
    ),
    min_size=0, max_size=300,
)

timestamps = st.lists(st.integers(-(2**62), 2**62), min_size=0, max_size=300)


@settings(max_examples=60, deadline=None)
@given(floats)
def test_block_float_roundtrip(xs):
    a = np.array(xs, dtype=np.float64)
    out = gv.decode_floats_block(gv.encode_floats_block(a))
    np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


@settings(max_examples=60, deadline=None)
@given(timestamps)
def test_block_ts_roundtrip(xs):
    a = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(
        gv.decode_timestamps_block(gv.encode_timestamps_block(a)), a)


full_ints = st.lists(st.integers(-(2**63), 2**63 - 1), min_size=0, max_size=300)


@settings(max_examples=60, deadline=None)
@given(full_ints, st.randoms(use_true_random=False))
def test_int_block_roundtrip_full_range_with_nulls(xs, rng):
    """Nullable-int64 block codec: exact over the FULL int64 range (the
    float path loses integers above 2^53 — round-1 ADVICE) with an
    arbitrary null mask."""
    a = np.array(xs, dtype=np.int64)
    mask = np.array([rng.random() < 0.3 for _ in xs], dtype=bool)
    vals, null = gv.decode_ints_block(gv.encode_ints_block(a, mask))
    np.testing.assert_array_equal(null, mask)
    np.testing.assert_array_equal(vals[~mask], a[~mask])
    assert (vals[mask] == 0).all()


def test_int_block_exact_above_2p53():
    a = np.array([2**53 + 1, -(2**62) - 7, 2**63 - 1, -(2**63), 0], dtype=np.int64)
    vals, null = gv.decode_ints_block(gv.encode_ints_block(a))
    np.testing.assert_array_equal(vals, a)
    assert not null.any()
    # the float path demonstrably cannot represent these
    assert int(np.float64(2**53 + 1)) != 2**53 + 1


INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1
edge_ints = st.lists(st.one_of(st.sampled_from([INT64_MIN, INT64_MAX, 0, -1, 1]),
                               st.integers(INT64_MIN, INT64_MAX)),
                     min_size=0, max_size=200)


@settings(max_examples=100, deadline=None)
@given(edge_ints, st.sampled_from(["none", "all", "random"]), st.randoms(use_true_random=False),
       st.binary(max_size=8))
def test_int_stream_roundtrip_edges(xs, nulls, rng, trailer):
    """The chunk-level int stream: nulls none / all / random, int64 extremes,
    single values and empty series round-trip, and the decoder stops exactly
    at the stream's end (val_codec concatenates streams with no framing)."""
    a = np.array(xs, dtype=np.int64)
    mask = {"none": np.zeros(len(a), dtype=bool), "all": np.ones(len(a), dtype=bool),
            "random": np.array([rng.random() < 0.5 for _ in xs], dtype=bool)}[nulls]
    stream = gv.encode_int_stream(a, mask)
    vals, null, end = gv.decode_int_stream(stream + trailer, 0, len(a))
    assert end == len(stream)
    np.testing.assert_array_equal(null, mask)
    np.testing.assert_array_equal(vals, np.where(mask, 0, a))


def test_int_stream_widths():
    """Frame of reference: width is the bit length of max - min, 64 for the
    full int64 span and 0 for a constant, empty or all-null series."""
    def width(a, mask=None):
        s = gv.encode_int_stream(np.array(a, dtype=np.int64), mask)
        flag_bytes = (len(a) + 7) // 8 if s[0] else 0
        return s[1 + flag_bytes + 8]  # [has_nulls][flags][min:64][width]

    assert width([INT64_MIN, INT64_MAX]) == 64
    assert width([INT64_MAX, INT64_MAX - 1]) == 1
    assert width([7]) == 0
    assert width([]) == 0
    assert width([3, 4], np.array([True, True])) == 0
    assert width([-5, 10]) == 4
    a = np.array([INT64_MIN, INT64_MAX, 5], dtype=np.int64)
    vals, null = gv.decode_ints_block(gv.encode_ints_block(a))
    np.testing.assert_array_equal(vals, a)
    assert not null.any()


# --- chunk values (operators/codec.py, layout v5) -----------------------------

def _wrap(x):
    """x as int64 with wraparound."""
    return (x + 2**63) % 2**64 - 2**63


OTHER, TURNS, USER, ASSISTANT = ROLE_SPLIT
_, SUM, MIN, MAX, SUMSQ = SMALL_SLOT
i64 = st.one_of(st.sampled_from([INT64_MIN, INT64_MAX, 0, -1, 1, 2**62, 2**32]),
                st.integers(INT64_MIN, INT64_MAX))
token_len = st.one_of(st.none(), st.integers(0, 10**6), i64)
BREAKS = (OTHER, MIN, MAX, SUMSQ, "null_min", "null_max", "null_user")


@st.composite
def chunk_slot(draw, lens_null_together):
    """None for a gap slot, else measure -> int or None. 1- and 2-turn slots
    hold the moments real turns give; a 2-turn slot with one null length
    breaks the small-slot identity, as in a rollup, unless
    ``lens_null_together``."""
    kind = draw(st.sampled_from(["gap", 1, 2, "many"]))
    if kind == "gap":
        return None
    if kind == "many":
        turns = draw(st.one_of(st.integers(3, 500), i64))
        stats = [draw(token_len) for _ in range(4)]
    else:
        lens = [draw(token_len) for _ in range(kind)]
        if lens_null_together and None in lens:
            lens = []
        lens = [x for x in lens if x is not None]
        stats = ([_wrap(sum(lens)), min(lens), max(lens), _wrap(sum(x * x for x in lens))]
                 if lens else [None] * 4)
        turns = kind
    s = dict(zip((SUM, MIN, MAX, SUMSQ), stats))
    s[TURNS] = turns
    s.update({m: draw(i64) for m in MEASURES if m not in s})
    s[OTHER] = _wrap(s[TURNS] - s[USER] - s[ASSISTANT])
    return s


@st.composite
def chunk(draw):
    """A chunk's slots, of which at most one breaks an identity on purpose."""
    slots = draw(st.lists(chunk_slot(draw(st.booleans())), max_size=60))
    brk = draw(st.sampled_from((None,) + BREAKS))
    s = slots[draw(st.integers(0, len(slots) - 1))] if slots else None
    if brk is None or s is None:
        return slots
    if brk.startswith("null_"):
        s[{"null_min": MIN, "null_max": MAX, "null_user": USER}[brk]] = None
    else:
        s[brk] = 0 if s[brk] is None else _wrap(s[brk] + 1)
    return slots


def _mode_that_holds(slots):
    """The mode bits whose identities hold on every real slot, computed
    independently of the codec with Python integers."""
    role = small = True
    for s in filter(None, slots):
        t, u, a = s[TURNS], s[USER], s[ASSISTANT]
        role &= s[OTHER] == (None if None in (t, u, a) else _wrap(t - u - a))
        sm, lo = s[SUM], s[MIN]
        if t == 1:
            small &= (lo, s[MAX], s[SUMSQ]) == (
                (None,) * 3 if sm is None else (sm, sm, _wrap(sm * sm)))
        elif t == 2:
            hi = None if None in (sm, lo) else _wrap(sm - lo)
            small &= (s[MAX], s[SUMSQ]) == (
                hi, None if hi is None else _wrap(lo * lo + hi * hi))
    return C.ROLE_DERIVED * role | C.SMALL_DERIVED * small


@settings(max_examples=200, deadline=None)
@given(chunk())
def test_chunk_values_roundtrip_and_mode(slots):
    """Chunks mixing 1-, 2- and many-turn slots, gap slots, null stats and
    nulls, int64 extremes, and slots that break an identity: the round trip
    is bit-exact and the mode byte names exactly the identities that hold.
    Null slots carry garbage values, which decode as 0."""
    n = len(slots)
    gap = np.array([s is None for s in slots], dtype=bool)
    cols = {}
    for m in MEASURES:
        null = np.array([m in C.STAT_COLS if s is None else s[m] is None for s in slots],
                        dtype=bool)
        v = np.array([0 if s is None else 12345 if s[m] is None else s[m] for s in slots],
                     dtype=np.int64)
        cols[m] = (v, null)
    buf = C.encode_values(gap, cols)
    assert buf[(n + 7) // 8] == _mode_that_holds(slots)
    back_gap, back = C.decode_values(buf, n)
    np.testing.assert_array_equal(back_gap, gap)
    for m in MEASURES:
        v, null = cols[m]
        np.testing.assert_array_equal(back[m][1], null, err_msg=m)
        np.testing.assert_array_equal(back[m][0], np.where(null, 0, v), err_msg=m)


def test_one_turn_square_wraps():
    """sum = 2^62 on a 1-turn slot: sumsq = sum² wraps to 0 in int64, and
    the slot still takes the derived layout and round-trips."""
    s = {m: 0 for m in MEASURES}
    s.update({TURNS: 1, ASSISTANT: 1, SUM: 2**62, MIN: 2**62, MAX: 2**62, SUMSQ: 0})
    cols = {m: (np.array([s[m]], dtype=np.int64), np.zeros(1, dtype=bool)) for m in MEASURES}
    buf = C.encode_values(np.zeros(1, dtype=bool), cols)
    assert buf[1] == C.FULL_MODE
    _, back = C.decode_values(buf, 1)
    assert {m: int(back[m][0][0]) for m in MEASURES} == s
    assert not any(back[m][1].any() for m in MEASURES)
