"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Schema = BASELINE.json::input_hint:
    conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp

Design for scale: the generator is ``spark.range(n_convs)`` →
``mapInPandas`` — embarrassingly parallel, zero shuffles, one numpy RNG per
conversation seeded by ``(seed, conv_index)`` so output is bit-identical
regardless of partitioning or parallelism level (the property the
local[8]-vs-local[32] exactness check relies on). At 10^12 turns this is
the same plan: range splits across executors, each emits its convs.

Skew: conv lengths follow a truncated Zipf (s=1.2) so a few conversations
are orders of magnitude longer than the median — deliberately exercising
the salting / AQE-skew paths downstream. Plus forced edge-case convs
(FIXTURES.md §1): 2-turn, single-minute, day-boundary-spanning, duplicate
timestamps.

This table is the graft analogue of the reference's synthetic/golden Landsat
stacks in tests/data/ (SURVEY.md §5) — the reference reads real imagery; we
must synthesize, so determinism is the contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
])

_TOOLS = np.array(["search", "exec", "browse", "file"])
_TOOL_W = np.array([4.0, 3.0, 2.0, 1.0])
_TOOL_CDF = np.cumsum(_TOOL_W / _TOOL_W.sum())

#: 30-day generation window start (UTC), epoch seconds.
T0 = 1_735_689_600  # 2025-01-01T00:00:00Z
WINDOW_S = 30 * 86400

_BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while the agent plans "
    "calls tools reads files writes code and reports results back to the user "
) * 600  # ~46k chars, sliced per turn


def _zipf_len(u: np.ndarray, s: float = 1.2, lo: int = 2, hi: int = 50_000) -> np.ndarray:
    """Inverse-CDF truncated Zipf-tail lengths: P(N >= n) ~ n^-(s-1).

    Clipped in float before the int cast: for tiny u the raw length
    overflows int64, and an overflowing cast is hardware-defined."""
    return np.clip(np.ceil(lo * u ** (-1.0 / (s - 1.0))), lo, hi).astype(np.int64)


def _gen_conv(conv_idx: int, seed: int, max_turns: int) -> pd.DataFrame:
    rng = np.random.RandomState(np.uint32(hash((seed, int(conv_idx))) & 0xFFFFFFFF))
    conv_id = f"conv{conv_idx:08d}"

    # --- forced edge-case convs (indices 0..4) ------------------------------
    if conv_idx == 0:
        n = 2                                   # minimum conv
    elif conv_idx == 1:
        n = 20                                  # entirely inside one minute
    elif conv_idx == 2:
        n = 50                                  # spans a day boundary
    elif conv_idx == 3:
        n = 30                                  # duplicate ts within conv
    elif conv_idx == 4:
        n = 30                                  # ts values shared with conv 3
    else:
        n = int(_zipf_len(rng.uniform(1e-12, 1.0, 1), hi=max_turns)[0])

    turn_idx = np.arange(n, dtype=np.int32)

    # roles: cycle user/assistant; 5% convs open with system; 10% tool turns
    role = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    tool_turns = rng.uniform(size=n) < 0.10
    role[tool_turns] = "tool"
    if rng.uniform() < 0.05:
        role[0] = "system"

    # tool column: null ~80%, else weighted category (FIXTURES.md §1)
    has_tool = rng.uniform(size=n) < 0.20
    tool_pick = _TOOLS[np.searchsorted(_TOOL_CDF, rng.uniform(size=n))]
    tool = np.where(has_tool, tool_pick, None)

    # timestamps: conv_start uniform in window; lognormal-ish gaps with 3%
    # long gaps (30-180 min) to exercise gap-fill
    start = T0 + rng.uniform(0, WINDOW_S)
    gaps = np.exp(np.log(20.0) + 1.2 * rng.standard_normal(n))
    long_mask = rng.uniform(size=n) < 0.03
    gaps = np.where(long_mask, rng.uniform(1800, 10800, n), gaps)
    gaps[0] = 0.0
    if conv_idx == 1:
        start = T0 + 3600.0 + 1.0
        gaps = np.full(n, 2.0); gaps[0] = 0.0    # 20 turns in <1 minute
    elif conv_idx == 2:
        start = T0 + 86400.0 - 60.0 * 25         # crosses midnight
        gaps = np.full(n, 61.0); gaps[0] = 0.0
    elif conv_idx in (3, 4):
        start = T0 + 7200.0                      # identical ts across convs
        gaps = np.tile([30.0, 0.0], n)[:n]       # duplicate ts within conv
        gaps[0] = 0.0
    ts = start + np.cumsum(gaps)

    # text: deterministic content keyed by (conv_id, turn_idx); length
    # lognormal(mu=4.5, sigma=1.0) clamped [1, 8192] (kept short so the
    # committed correctness-scale parquet stays small; the length
    # distribution's shape, not its mean, is what the operators exercise)
    tlen = np.clip(np.exp(4.5 + 1.0 * rng.standard_normal(n)), 1, 8192).astype(np.int64)
    prefix = [f"{conv_id}:{i}:" for i in turn_idx]
    text = [p + _BASE_TEXT[: max(int(l) - len(p), 0)] for p, l in zip(prefix, tlen)]

    return pd.DataFrame({
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": tool,
        # microsecond precision, naive (session TZ is UTC) — Spark's
        # timestamp is us; emitting ns would fail Arrow's safe cast.
        "ts": np.round(ts * 1e6).astype(np.int64).astype("datetime64[us]"),
    })


def generate_transcripts(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    max_turns: int = 50_000,
    slice_size: int = 256,
) -> DataFrame:
    """Distributed deterministic transcript table.

    ``spark.range`` is split so each task generates a contiguous slice of
    conv indices; per-conv RNG depends only on (seed, conv_idx), so the
    result is independent of parallelism.
    """
    n_parts = max(1, min(n_convs // slice_size + 1, 1024))

    def gen(batches):
        for pdf in batches:
            for conv_idx in pdf["id"].to_numpy():
                yield _gen_conv(int(conv_idx), seed, max_turns)

    base = spark.range(0, n_convs, 1, n_parts)
    return base.mapInPandas(gen, TRANSCRIPT_SCHEMA)


def materialize_transcripts(
    spark: SparkSession,
    path: str,
    n_convs: int,
    seed: int = 42,
    max_turns: int = 50_000,
) -> str:
    """Write the table to parquet once (idempotent) and return the path."""
    import os

    if not os.path.exists(path):
        df = generate_transcripts(spark, n_convs, seed=seed, max_turns=max_turns)
        # Write with the generator's own partitioning (≤1024 contiguous conv
        # slices, ~35 MB files at sf1.0). The earlier repartition() here was
        # a full shuffle of the entire generated table just to reduce the
        # file count — at 27 GB (sf1.0) it spilled ~40 GB of scratch, and a
        # round-robin exchange over a nondeterministic-order upstream is
        # also unsafe under task retries.
        df.write.mode("overwrite").parquet(path + ".tmp")
        os.rename(path + ".tmp", path)
    return path


#: conv counts per scale factor (FIXTURES.md §1: smoke 200 / correctness
#: 2000 / bench 20000), keyed by the sf directory basename.
SF_CONVS = {"sf0.001": 200, "sf0.01": 2_000, "sf0.1": 20_000, "sf1.0": 200_000}


def transcripts_for_sf(spark: SparkSession, sf_dir: str, data_root: str = "/root/repo/data") -> DataFrame:
    """Load (materializing if needed) the transcript table matching an sf dir."""
    import os

    base = os.path.basename(sf_dir.rstrip("/"))
    n = SF_CONVS.get(base, 2_000)
    # cap mega-convs at small scales to keep smoke/correctness fast (bench
    # scale keeps heavy skew to exercise salting/AQE)
    max_turns = {"sf0.001": 1_000, "sf0.01": 1_500, "sf0.1": 20_000,
                 "sf1.0": 20_000}.get(base, 1_500)
    path = os.path.join(data_root, f"transcripts_{base}.parquet")
    materialize_transcripts(spark, path, n, max_turns=max_turns)
    return spark.read.parquet(path)
