"""Block codec round-trip fixtures (FIXTURES.md §2.3): XOR floats,
delta-of-delta timestamps and frame-of-reference ints — decode(encode(x))
== x exactly, including NaN slots."""

import numpy as np

from yatsm_spark.kernel.gorilla_vec import (
    decode_floats_block,
    decode_ints_block,
    decode_timestamps_block,
    encode_floats_block,
    encode_ints_block,
    encode_timestamps_block,
)


def test_ts_roundtrip_regular():
    ts = np.arange(0, 86400, 60, dtype=np.int64) + 1_700_000_000
    enc = encode_timestamps_block(ts)
    np.testing.assert_array_equal(decode_timestamps_block(enc), ts)
    # regular 1m cadence: dod == 0 everywhere -> one 2-bit class code per
    # point after the 21-byte header, no payloads
    assert len(enc) < 21 + len(ts) // 4 + 2


def test_ts_roundtrip_irregular():
    rng = np.random.RandomState(42)
    deltas = rng.randint(1, 10_000, 500).astype(np.int64)
    deltas[::50] = rng.randint(10**6, 10**12, 10)  # huge jumps -> escape bucket
    ts = 1_700_000_000 + np.cumsum(deltas)
    np.testing.assert_array_equal(decode_timestamps_block(encode_timestamps_block(ts)), ts)


def test_ts_edges():
    for ts in ([], [5], [5, 5], [0, -10, 100], [2**62, -(2**62)]):
        a = np.array(ts, dtype=np.int64)
        np.testing.assert_array_equal(decode_timestamps_block(encode_timestamps_block(a)), a)


def test_float_roundtrip_with_nans():
    rng = np.random.RandomState(7)
    v = rng.normal(100, 5, 1000)
    v[::7] = np.nan
    v[::13] = 0.0
    v[1::97] = np.inf
    out = decode_floats_block(encode_floats_block(v))
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


def test_float_roundtrip_constant_is_tiny():
    v = np.full(10_000, 42.5)
    enc = encode_floats_block(v)
    np.testing.assert_array_equal(decode_floats_block(enc), v)
    assert len(enc) < 15 + 10_000 // 8 + 2  # 1 bit per repeated value


def test_float_edges():
    for v in ([], [1.5], [1.5, 1.5], [np.nan, np.nan], [-0.0, 0.0]):
        a = np.array(v, dtype=np.float64)
        out = decode_floats_block(encode_floats_block(a))
        np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


def test_compression_ratio_on_rollup_like_data():
    # Turn counts per minute: small integers bit-packed at a shared width.
    rng = np.random.RandomState(1)
    counts = rng.poisson(3, 5000).astype(np.int64)
    ts = np.arange(5000, dtype=np.int64) * 60
    raw = 16 * len(ts)
    blob = encode_ints_block(counts)
    np.testing.assert_array_equal(decode_ints_block(blob)[0], counts)
    comp = len(encode_timestamps_block(ts)) + len(blob)
    assert comp < raw / 8


def test_block_float_roundtrip_cases():
    rng = np.random.RandomState(7)
    v = rng.normal(100, 5, 1000)
    v[::7] = np.nan
    v[::13] = 0.0
    v[1::97] = np.inf
    for case in (v, np.full(5000, 42.5), np.array([]), np.array([1.5]),
                 np.array([np.nan, np.nan]), np.array([-0.0, 0.0]),
                 rng.poisson(3, 5000).astype(np.float64)):
        a = np.asarray(case, dtype=np.float64)
        out = decode_floats_block(encode_floats_block(a))
        np.testing.assert_array_equal(out.view(np.uint64), a.view(np.uint64))


def test_block_ts_roundtrip_cases():
    rng = np.random.RandomState(3)
    irregular = 1_700_000_000 + np.cumsum(rng.randint(1, 10_000, 500).astype(np.int64))
    jumps = irregular.copy()
    jumps[::50] += rng.randint(10**6, 10**12, 10)
    for case in (np.arange(0, 86400, 60, dtype=np.int64), irregular, np.sort(jumps),
                 np.array([], dtype=np.int64), np.array([5], dtype=np.int64),
                 np.array([5, 5], dtype=np.int64), np.array([0, -10, 100], dtype=np.int64),
                 np.array([2**62, -(2**62), 17], dtype=np.int64)):
        out = decode_timestamps_block(encode_timestamps_block(case))
        np.testing.assert_array_equal(out, case)


def test_block_codec_compresses_rollup_series():
    rng = np.random.RandomState(1)
    counts = rng.poisson(3, 5000).astype(np.float64)
    ts = np.arange(5000, dtype=np.int64) * 60
    assert len(encode_timestamps_block(ts)) < 8 * 5000 / 20
    assert len(encode_floats_block(counts)) < 8 * 5000 / 3
