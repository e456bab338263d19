"""Same-host references the benchmark checks the engine's outputs against.

Everything here is numpy on the driver, computed from the generated
transcripts, not from the committed goldens (those drift with the host's
BLAS dispatch). Tier tables are compared as canonical arrays: rows sorted
by (conv, slot), every measure as int64 with -1 standing for NULL (all real
measures are >= 0).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

MEASURES = ["turn_count", "token_len_sum", "token_len_min", "token_len_max",
            "token_len_sumsq", "tool_call_count", "role_user_count",
            "role_assistant_count", "role_other_count"]
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


class Turns:
    """Per-turn measures of the generated transcripts, as numpy arrays."""

    def __init__(self, table: pa.Table):
        conv = table.column("conv_id").to_numpy(zero_copy_only=False)
        self.conv_ids, self.conv = np.unique(conv, return_inverse=True)
        self.ts_us = table.column("ts").cast(pa.int64()).to_numpy()
        self.ts_s = self.ts_us // 1_000_000
        tl = pc.utf8_length(table.column("text")).cast(pa.int64()).to_numpy()
        role = table.column("role").to_numpy(zero_copy_only=False)
        user, asst = role == "user", role == "assistant"
        self.cols = {
            "turn_count": np.ones(len(tl), np.int64),
            "token_len_sum": tl,
            "token_len_min": tl,
            "token_len_max": tl,
            "token_len_sumsq": tl * tl,
            "tool_call_count": table.column("tool").is_valid().to_numpy(
                zero_copy_only=False).astype(np.int64),
            "role_user_count": user.astype(np.int64),
            "role_assistant_count": asst.astype(np.int64),
            "role_other_count": (~user & ~asst).astype(np.int64),
        }

    def codes(self, conv_ids: np.ndarray) -> np.ndarray:
        """conv_id strings -> this table's conv codes."""
        return np.searchsorted(self.conv_ids, conv_ids)


def _group(keys: np.ndarray, cols: dict, mask=None):
    """Aggregate ``cols`` by ``keys`` -> (unique keys, per-measure arrays)."""
    if mask is not None:
        keys = keys[mask]
        cols = {m: v[mask] for m, v in cols.items()}
    order = np.argsort(keys, kind="stable")
    k = keys[order]
    if len(k) == 0:
        return k, {m: np.empty(0, np.int64) for m in MEASURES}
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    out = {}
    for m in MEASURES:
        v = cols[m][order]
        red = (np.minimum if m == "token_len_min"
               else np.maximum if m == "token_len_max" else np.add)
        out[m] = red.reduceat(v, starts)
    return k[starts], out


def tier_reference(turns: Turns, tier: str) -> dict:
    """Gap-filled tier computed straight from raw turns (canonical form)."""
    sec = TIER_SECONDS[tier]
    slot = turns.ts_s // sec
    key = turns.conv.astype(np.int64) << 32 | slot
    ukey, agg = _group(key, turns.cols)
    conv, slot = ukey >> 32, ukey & 0xFFFFFFFF
    # dense grid per conv over [min slot, max slot]
    first = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    last = np.r_[first[1:], len(conv)] - 1
    span = slot[last] - slot[first] + 1
    d_conv = np.repeat(conv[first], span)
    d_slot = np.repeat(slot[first], span) + (
        np.arange(span.sum()) - np.repeat(np.cumsum(span) - span, span))
    d_key = d_conv << 32 | d_slot
    real = np.searchsorted(d_key, ukey)
    gap = np.ones(len(d_key), bool)
    gap[real] = False
    out = {"conv": d_conv, "slot_s": d_slot * sec, "gap_filled": gap}
    for m in MEASURES:
        col = np.full(len(d_key), 0 if m.endswith("_count") else -1, np.int64)
        col[real] = agg[m]
        out[m] = col
    return out


def canonical(table: pa.Table, turns: Turns) -> dict:
    """An engine tier table (pyarrow) in the canonical form."""
    ws = table.column("window_start")
    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ws.type.unit]
    slot_s = ws.cast(pa.int64()).to_numpy() // per_s
    conv = turns.codes(table.column("conv_id").to_numpy(zero_copy_only=False))
    order = np.lexsort((slot_s, conv))
    out = {"conv": conv[order], "slot_s": slot_s[order],
           "gap_filled": table.column("gap_filled").to_numpy(
               zero_copy_only=False)[order].astype(bool)}
    for m in MEASURES:
        out[m] = table.column(m).fill_null(-1).cast(pa.int64()).to_numpy()[order]
    return out


def read_table(path: str) -> pa.Table:
    """A Spark-written parquet table directory (hive-partitioned)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        len(a[k]) == len(b[k]) and np.array_equal(a[k], b[k]) for k in a)


def range_reference(turns: Turns, qs: int, qe: int) -> dict:
    """Raw-turn aggregate per conv over [qs, qe) (epoch seconds):
    {conv_id: tuple of MEASURES}."""
    mask = (turns.ts_us >= qs * 1_000_000) & (turns.ts_us < qe * 1_000_000)
    conv, agg = _group(turns.conv.astype(np.int64), turns.cols, mask)
    return {turns.conv_ids[c]: tuple(int(agg[m][i]) for m in MEASURES)
            for i, c in enumerate(conv)}


def rows_by_conv(rows) -> dict:
    """route_range result rows -> {conv_id: tuple of MEASURES}."""
    return {r["conv_id"]: tuple(int(r[m]) for m in MEASURES) for r in rows}


def series(ref_tier: dict, code: int):
    """(slot epoch seconds, turn counts) of one conv in a canonical tier."""
    sel = ref_tier["conv"] == code
    return ref_tier["slot_s"][sel], ref_tier["turn_count"][sel]


def anomaly_flags(x: np.ndarray, k: int = 30, sigma: int = 3, min_n: int = 8):
    """Python-int twin of tsfuncs.rolling_anomaly's is_anomaly flag."""
    xs = [int(v) for v in x]
    out = []
    for i, xi in enumerate(xs):
        w = xs[max(0, i - k):i]
        n = len(w)
        if n < min_n:
            out.append(None)
            continue
        s, q = sum(w), sum(v * v for v in w)
        dev, var_n = n * xi - s, n * q - s * s
        out.append(dev * dev * (n - 1) > sigma * sigma * n * var_n
                   if var_n > 0 else dev != 0)
    return out
