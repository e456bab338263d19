"""Seeded transcript generator for the benchmark.

Independent of ``yatsm_spark.synth`` on purpose: the engine's generator is
part of the code under test and may change, which would silently change the
benchmark's inputs. Everything here is numpy (PCG64) + pyarrow on the
driver, so one seed gives byte-identical parquet in the same environment
(same numpy and pyarrow builds; the parquet footer records the writer
version).

Shape (the properties the engine's layers react to):
- a fixed total of ``n_turns`` turns, so throughput compares across seeds;
- conversation lengths: truncated zipf tail, P(N >= n) ~ n^-(S-1), clipped
  in float before the int cast (no overflow for tiny uniforms), capped at
  ``max_turns`` -- the capped mega-conversation tail;
- inter-turn gaps: lognormal around 20 s, with 3% long gaps of 30-180 min
  that the gap-fill layer has to densify;
- starts uniform over a 30-day window, so 1d/1h/1m tiers all have
  ragged edges;
- roles user/assistant alternating, 10% tool turns, 5% system openers;
  tool column null for ~80% of turns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_735_689_600  # 2025-01-01T00:00:00Z
WINDOW_S = 30 * 86400
MIN_TURNS = 2
ZIPF_S = 1.2

SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
    pa.field("tool", pa.string(), nullable=True),
    pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
])

_TOOLS = np.array(["search", "exec", "browse", "file"], dtype=object)
_BASE = ("the agent plans calls tools reads files writes code and reports "
         "results back to the user ") * 40


def zipf_lengths(u: np.ndarray, hi: int) -> np.ndarray:
    """Inverse-CDF truncated zipf tail. Clips in float, then casts."""
    n = np.ceil(MIN_TURNS * u ** (-1.0 / (ZIPF_S - 1.0)))
    return np.clip(n, MIN_TURNS, hi).astype(np.int64)


def conv_lengths(rng: np.random.Generator, n_turns: int, max_turns: int) -> np.ndarray:
    """Zipf conversation lengths drawn until they hold ``n_turns`` turns;
    the last conversation is cut so the total is exact."""
    lens = np.empty(0, dtype=np.int64)
    while lens.sum() < n_turns:
        lens = np.concatenate([lens, zipf_lengths(rng.uniform(1e-12, 1.0, 64), max_turns)])
    k = int(np.searchsorted(np.cumsum(lens), n_turns))
    lens = lens[:k + 1].copy()
    lens[k] -= int(lens.sum()) - n_turns
    return lens


def generate(n_turns: int, max_turns: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lens = conv_lengths(rng, n_turns, max_turns)
    n_convs = len(lens)
    total = int(lens.sum())
    conv = np.repeat(np.arange(n_convs), lens)
    first = np.repeat(np.cumsum(lens) - lens, lens)
    turn = (np.arange(total) - first).astype(np.int32)

    role = np.where(turn % 2 == 0, "user", "assistant").astype(object)
    role[rng.uniform(size=total) < 0.10] = "tool"
    system_open = np.repeat(rng.uniform(size=n_convs) < 0.05, lens) & (turn == 0)
    role[system_open] = "system"
    tool = np.where(rng.uniform(size=total) < 0.20,
                    _TOOLS[rng.integers(0, len(_TOOLS), total)], None)

    gaps = np.exp(np.log(20.0) + 1.2 * rng.standard_normal(total))
    long_gap = rng.uniform(size=total) < 0.03
    gaps = np.where(long_gap, rng.uniform(1800, 10800, total), gaps)
    gaps[turn == 0] = 0.0
    starts = T0 + rng.uniform(0, WINDOW_S, n_convs)
    # per-conv cumulative sum of gaps, then shift by the conv's start
    csum = np.cumsum(gaps)
    base = np.repeat(csum[np.cumsum(lens) - lens], lens)
    ts_us = np.round((np.repeat(starts, lens) + csum - base) * 1e6).astype(np.int64)

    tlen = np.clip(np.exp(4.0 + 1.0 * rng.standard_normal(total)), 1, 3000)
    tlen = tlen.astype(np.int64)
    conv_ids = np.array([f"conv{i:07d}" for i in range(n_convs)], dtype=object)
    text = [_BASE[:k] for k in tlen.tolist()]

    return pa.table({
        "conv_id": pa.array(conv_ids[conv], pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)


def write(table: pa.Table, path: str) -> None:
    """Write ``table`` as parquet parts under directory ``path``, one part
    per core so the scan has one split per core."""
    os.makedirs(path, exist_ok=True)
    files = len(os.sched_getaffinity(0))
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="snappy")
