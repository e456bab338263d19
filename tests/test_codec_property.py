"""Property-based round-trip tests for the block codecs (hypothesis)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from yatsm_spark.kernel import gorilla_vec as gv

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
