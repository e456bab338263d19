"""Vectorized (numpy) block codecs: XOR floats, delta-of-delta timestamps,
frame-of-reference integers.

The per-point Gorilla layout (paper §4.1) chooses a window per value with a
sequential '10'-reuse state machine, which is loop-bound in pure Python.
These BLOCK variants of the same ideas are restructured so encode AND
decode are single-pass numpy:

float block layout (version byte 0xF2):
    [ver:8][n:32][first:64][lead:8][mbits:8]
    [flags: n-1 bits]            1 = xor != 0
    [payloads: nnz * mbits bits] meaningful bits of each nonzero xor

(lead, mbits) are chosen per block from the OR of all xors — every nonzero
xor fits one shared window, trading a few bits/point vs per-point windows
for fully-columnar encode/decode (the standard block-codec variant, cf.
the VLDB'20 compressed-TS line in PAPERS.md).

timestamp block layout (version byte 0xF3):
    [ver:8][n:32][first:64][first_delta:64]
    [codes: (n-2) * 2 bits]      0: dod=0, 1: 7-bit, 2: 12-bit, 3: 64-bit
    [payloads: variable]         zig-zag dod in the coded width

nullable-int64 stream (one measure of a chunk's val_codec, see
operators/codec.py; its length follows from n, so streams concatenate
without framing):
    [has_nulls:8]
    [null flags: n bits, byte-padded]     only when has_nulls == 1
    [min:64][width:8]                     frame of reference over the
                                          k non-null values
    [payloads: k * width bits, byte-padded]  v - min, modulo 2^64
width is the bit length of max - min taken modulo 2^64 (0..64), so ANY
int64 series round-trips bit-exactly — the float path is exact only below
2^53 (round-1 ADVICE).

nullable-int64 block layout (version byte 0xF5):
    [ver:8][n:32][nullable-int64 stream]

Bit-exact round-trip (incl. NaN) is enforced by tests/test_gorilla.py +
tests/test_codec_property.py for all codec families.
"""

from __future__ import annotations

import struct

import numpy as np

FLOAT_BLOCK_VER = 0xF2
TS_BLOCK_VER = 0xF3
INT_BLOCK_VER = 0xF5

_TS_WIDTHS = np.array([0, 7, 12, 64], dtype=np.int64)
_NO_HEAD = np.zeros(0, dtype=np.uint8)
_U64 = 0xFFFF_FFFF_FFFF_FFFF


def _pack_words(values: np.ndarray, widths, head: np.ndarray) -> bytes:
    """Pack `head` (a 0/1 uint8 bit array) followed by big-endian fields
    (values[i] in widths[i] bits) into bytes, built on 64-bit words:
    each field touches at most TWO words (one np.where + one
    bitwise_or.reduceat per side), so temporaries are O(1) per VALUE
    instead of O(1) per BIT — ~width× less memory traffic, which is the
    whole cost of the float path (shared-window mbits is typically
    20–52). Fields are placed MSB-first at offsets
    head_bits + cumsum(widths), in np.packbits' bit order."""
    head = np.asarray(head, dtype=np.uint8)
    values = np.asarray(values, dtype=np.uint64)
    widths = np.broadcast_to(np.asarray(widths, dtype=np.int64), values.shape)
    hbits = len(head)
    if len(values) == 0:
        return np.packbits(head).tobytes()
    total = hbits + int(widths.sum())
    n_words = (total + 63) // 64
    words = np.zeros(n_words, dtype=np.uint64)
    if hbits:
        hb = np.packbits(head)
        hw = np.zeros(((len(hb) + 7) // 8) * 8, dtype=np.uint8)
        hw[: len(hb)] = hb
        hview = hw.view(">u8").astype(np.uint64)
        words[: len(hview)] |= hview
    o = hbits + np.concatenate([[0], np.cumsum(widths)[:-1]]).astype(np.int64)
    w0 = o >> 6
    s = o & 63
    sh1 = s + widths - 64  # >0: field straddles into word w0+1
    ls = np.maximum(-sh1, 0).astype(np.uint64)
    rs = np.maximum(sh1, 0).astype(np.uint64)
    part1 = np.where(sh1 <= 0, values << ls, values >> rs)
    seg = np.flatnonzero(np.r_[True, w0[1:] != w0[:-1]])
    words[w0[seg]] |= np.bitwise_or.reduceat(part1, seg)
    strad = sh1 > 0
    if strad.any():
        w1 = w0[strad] + 1
        part2 = values[strad] << (np.uint64(64) - rs[strad])
        seg2 = np.flatnonzero(np.r_[True, w1[1:] != w1[:-1]])
        words[w1[seg2]] |= np.bitwise_or.reduceat(part2, seg2)
    return words.astype(">u8").tobytes()[: (total + 7) // 8]


def _gather_words(buf: np.ndarray, offsets: np.ndarray, widths) -> np.ndarray:
    """Read big-endian uint fields straight from the BYTE buffer (uint8
    array) — no unpackbits of the payload region, no per-bit
    temporaries. offsets are absolute bit positions (MSB-first
    np.packbits order); widths scalar or per-field, all in 1..64."""
    offsets = np.asarray(offsets, dtype=np.int64)
    widths = np.broadcast_to(np.asarray(widths, dtype=np.int64), offsets.shape)
    if len(offsets) == 0:
        return np.array([], dtype=np.uint64)
    padded = np.zeros(((len(buf) + 7) // 8) * 8, dtype=np.uint8)
    padded[: len(buf)] = buf
    W = padded.view(">u8").astype(np.uint64)
    w0 = offsets >> 6
    s = offsets & 63
    sh1 = s + widths - 64
    ls = np.maximum(-sh1, 0).astype(np.uint64)
    rs = np.maximum(sh1, 1).astype(np.uint64)  # clamp: 64-rs stays < 64
    hi = W[w0]
    lo = W[np.minimum(w0 + 1, len(W) - 1)]
    vals = np.where(sh1 <= 0, hi >> ls,
                    (hi << rs) | (lo >> (np.uint64(64) - rs)))
    wc = np.minimum(widths, 63).astype(np.uint64)  # 64 selects the full mask
    mask = np.where(widths >= 64, np.uint64(0xFFFFFFFFFFFFFFFF),
                    (np.uint64(1) << wc) - np.uint64(1))
    return (vals & mask).astype(np.uint64)


# --- floats -----------------------------------------------------------------


def encode_floats_block(vals: np.ndarray) -> bytes:
    bits = np.ascontiguousarray(np.asarray(vals, dtype=np.float64)).view(np.uint64)
    n = len(bits)
    header = bytearray()
    header.append(FLOAT_BLOCK_VER)
    header += int(n).to_bytes(4, "big")
    if n == 0:
        return bytes(header)
    header += int(bits[0]).to_bytes(8, "big")
    if n == 1:
        return bytes(header)
    x = bits[1:] ^ bits[:-1]
    union = np.bitwise_or.reduce(x)
    if union == 0:
        lead, mbits = 0, 1  # degenerate: all equal; flags all 0, no payloads
    else:
        u = int(union)
        lead = 64 - u.bit_length()
        tz = (u & -u).bit_length() - 1
        mbits = 64 - lead - tz
    tail = 64 - lead - mbits
    header.append(lead)
    header.append(mbits)
    flags = (x != 0).astype(np.uint8)
    nz = x[x != 0] >> np.uint64(tail)
    return bytes(header) + _pack_words(nz, mbits, flags)


def decode_floats_block(data: bytes) -> np.ndarray:
    assert data[0] == FLOAT_BLOCK_VER
    n = int.from_bytes(data[1:5], "big")
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    out[0] = int.from_bytes(data[5:13], "big")
    if n == 1:
        return out.view(np.float64)
    lead = data[13]
    mbits = data[14]
    tail = 64 - lead - mbits
    buf = np.frombuffer(data[15:], dtype=np.uint8)
    flags = np.unpackbits(buf[: (n - 1 + 7) // 8])[: n - 1].astype(bool)
    nnz = int(flags.sum())
    offsets = (n - 1) + np.arange(nnz, dtype=np.int64) * mbits
    payl = _gather_words(buf, offsets, mbits) << np.uint64(tail)
    x = np.zeros(n - 1, dtype=np.uint64)
    x[flags] = payl
    np.bitwise_xor.accumulate(np.concatenate([out[:1], x]), out=out)
    return out.view(np.float64)


# --- nullable int64 -----------------------------------------------------------


def encode_int_stream(vals: np.ndarray, null_mask: np.ndarray | None = None) -> bytes:
    """Nullable-int64 stream: null flags (only if any), then the non-null
    values as a frame-of-reference block bit-packed at one shared width."""
    vals = np.asarray(vals, dtype=np.int64)
    out = bytearray()
    if null_mask is not None and null_mask.any():
        out.append(1)
        out += np.packbits(null_mask).tobytes()
        vals = vals[~null_mask]
    else:
        out.append(0)
    if len(vals) == 0:
        return bytes(out) + struct.pack(">qB", 0, 0)
    lo = vals.min()
    off = vals.astype(np.uint64) - np.uint64(int(lo) & _U64)  # wraps: exact
    width = int(off.max()).bit_length()
    out += struct.pack(">qB", int(lo), width)
    if width:
        out += _pack_words(off, width, _NO_HEAD)
    return bytes(out)


def decode_int_stream(buf: bytes, pos: int, n: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Stream of n slots at byte `pos` -> (values int64 with 0 at null
    slots, null_mask bool, byte position after the stream)."""
    null = np.zeros(n, dtype=bool)
    has_nulls = buf[pos]
    pos += 1
    if has_nulls:
        nb = (n + 7) // 8
        null = np.unpackbits(np.frombuffer(buf, np.uint8, nb, pos), count=n).astype(bool)
        pos += nb
    lo, width = struct.unpack_from(">qB", buf, pos)
    pos += 9
    k = n - int(null.sum())
    nb = (k * width + 7) // 8
    off = np.zeros(k, dtype=np.uint64)
    if width and k:
        payload = np.frombuffer(buf, np.uint8, nb, pos)
        off = _gather_words(payload, np.arange(k, dtype=np.int64) * width, width)
    present = (off + np.uint64(lo & _U64)).view(np.int64)
    if not has_nulls:
        return present, null, pos + nb
    out = np.zeros(n, dtype=np.int64)
    out[~null] = present
    return out, null, pos + nb


def encode_ints_block(vals: np.ndarray, null_mask: np.ndarray | None = None) -> bytes:
    """Self-describing nullable-int64 block: version byte, length, stream."""
    return (bytes([INT_BLOCK_VER]) + len(vals).to_bytes(4, "big")
            + encode_int_stream(vals, null_mask))


def decode_ints_block(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """-> (values int64 with 0 at null slots, null_mask bool)."""
    assert data[0] == INT_BLOCK_VER
    vals, null, _ = decode_int_stream(data, 5, int.from_bytes(data[1:5], "big"))
    return vals, null


# --- timestamps ---------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(np.int64)


def encode_timestamps_block(ts: np.ndarray) -> bytes:
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    header = bytearray()
    header.append(TS_BLOCK_VER)
    header += int(n).to_bytes(4, "big")
    if n == 0:
        return bytes(header)
    header += int(np.uint64(ts[0])).to_bytes(8, "big")
    if n == 1:
        return bytes(header)
    deltas = np.diff(ts)
    header += int(np.uint64(deltas[0])).to_bytes(8, "big")
    if n == 2:
        return bytes(header)
    dod = deltas[1:] - deltas[:-1]
    z = _zigzag(dod)
    codes = np.select([z == 0, z < (1 << 7), z < (1 << 12)], [0, 1, 2], default=3).astype(np.uint64)
    # 2-bit class codes packed first (fixed offsets), then payloads.
    code_bits = np.column_stack([(codes >> 1) & 1, codes & 1]).reshape(-1).astype(np.uint8)
    widths = _TS_WIDTHS[codes.astype(np.int64)]
    nzmask = widths > 0
    return bytes(header) + _pack_words(z[nzmask], widths[nzmask], code_bits)


def decode_timestamps_block(data: bytes) -> np.ndarray:
    assert data[0] == TS_BLOCK_VER
    n = int.from_bytes(data[1:5], "big")
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = np.uint64(int.from_bytes(data[5:13], "big")).astype(np.int64)
    if n == 1:
        return out
    first_delta = np.uint64(int.from_bytes(data[13:21], "big")).astype(np.int64)
    if n == 2:
        # Contract: delta reconstruction is two's-complement modulo 2^64 —
        # at int64 extremes the add WRAPS and the round-trip is still
        # bit-exact (encode computed the delta under the same wraparound).
        # numpy warns on scalar int overflow; the wrap is intentional.
        with np.errstate(over="ignore"):
            out[1] = out[0] + first_delta
        return out
    buf = np.frombuffer(data[21:], dtype=np.uint8)
    m = n - 2
    bits = np.unpackbits(buf[: (2 * m + 7) // 8])
    codes = (bits[0 : 2 * m : 2].astype(np.int64) << 1) | bits[1 : 2 * m : 2]
    widths = _TS_WIDTHS[codes]
    nzmask = widths > 0
    nz_w = widths[nzmask]
    offsets = 2 * m + np.concatenate([[0], np.cumsum(nz_w)[:-1]]) if nzmask.any() else np.array([], dtype=np.int64)
    z = np.zeros(m, dtype=np.uint64)
    if nzmask.any():
        z[nzmask] = _gather_words(buf, offsets.astype(np.int64), nz_w)
    dod = _unzigzag(z)
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = first_delta
    # Same modulo-2^64 contract as the n == 2 path: cumsum/add may wrap at
    # int64 extremes and MUST (two's-complement delta reconstruction).
    with np.errstate(over="ignore"):
        np.cumsum(np.concatenate([[first_delta], dod]), out=deltas)
        out[1:] = out[0] + np.cumsum(deltas)
    return out
