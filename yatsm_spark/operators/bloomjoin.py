"""Bloom-filter semi-join pruning — runtime row filtering for big joins.

The 100 TB problem: a fact⋈dim join where dim is too large to broadcast
(so Spark must shuffle BOTH sides) but selective (most fact rows have no
match). Shuffling the non-matching fact rows is pure waste. The standard
engine answer (Spark's own AQE runtime bloom filter, ORC/Iceberg bloom
indexes) is a Bloom filter of the dim keys applied to fact BEFORE its
exchange. This module makes that an explicit, testable operator.

Everything stays JVM-side — no Python in the hot path:

- **Build** (``bloom_bitmap``): k = ``n_hashes`` positions per dim key
  via seeded ``xxhash64`` mod ``n_bits``, packed into 64-bit words with
  a ``bit_or`` aggregation. BIT_OR is commutative/associative, so the
  bitmap is EXACT at any parallelism (same discipline as the HLL
  MAX-merge and CMS SUM-merge in operators/sketches.py). The result is
  a DataFrame of at most ``n_bits / 64`` ``(word, bits)`` rows — its
  size depends only on ``n_bits``, never on dim cardinality, and it is
  never collected to the driver.
- **Probe** (``bloom_prune``): k broadcast LEFT joins of fact's word
  indexes against the bitmap plus Catalyst bit tests
  (``bits & shiftleft(1, pos % 64) != 0``). A fact row survives only if
  every probed bit is set. Broadcast joins of an ≤ n_bits/64-row table
  → the fact side is never exchanged; pruned rows die before the join
  shuffle.
- **Join** (``bloom_join``): prune, then the exact join. The Bloom
  filter's one-sided error (no false negatives) means the result equals
  the plain join — which IS the driver oracle, same structure as the
  CMS-accelerated exact ``heavy_hitters``.

False-positive rate at the defaults (n_bits=2^20, k=5): ~0.6% at 10^5
dim keys — i.e. the fact exchange carries the matching rows plus ~0.6%
noise instead of the full table. Size n_bits ~ 10–15 bits per expected
dim key (the classic (m/n) ln 2 ≈ k optimum).

No yatsm analogue (yatsm joins per-pixel arrays in memory); the shape
follows Spark's InjectRuntimeFilter / ORC bloom index, re-expressed as
composable DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark import conf

DEFAULT_BITS = 1 << 20
DEFAULT_HASHES = 5


def _positions(key_col: str, n_bits: int, n_hashes: int):
    """k seeded-xxhash64 bit positions for one key — shared by build and
    probe so both sides address the identical bits."""
    return [F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
            for i in range(n_hashes)]


def bloom_bitmap(dim: DataFrame, key_col: str, n_bits: int = DEFAULT_BITS,
                 n_hashes: int = DEFAULT_HASHES) -> DataFrame:
    """(word, bits): the packed Bloom bitmap of dim's keys.

    word = position >> 6, bits = BIT_OR of shiftleft(1, position & 63)
    over every (key, seed) landing in that word. At most n_bits/64 rows;
    null keys contribute nothing (an inner join drops them anyway).
    """
    if n_bits < 64 or n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a power of two >= 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    pos = _positions(key_col, n_bits, n_hashes)
    return (dim.filter(F.col(key_col).isNotNull())
               .select(F.explode(F.array(*pos)).alias("pos"))
               .select(F.shiftright(F.col("pos"), 6).alias("word"),
                       F.expr("shiftleft(CAST(1 AS BIGINT), "
                              "CAST(pos % 64 AS INT))").alias("mask"))
               .groupBy("word")
               .agg(F.bit_or("mask").alias("bits")))


def bloom_prune(fact: DataFrame, bitmap: DataFrame, key_col: str,
                n_bits: int = DEFAULT_BITS,
                n_hashes: int = DEFAULT_HASHES) -> DataFrame:
    """fact minus the rows whose key is definitely not in the bitmap.

    One broadcast LEFT join per hash (the bitmap is ≤ n_bits/64 rows —
    128 kB of longs at the 2^20 default); a row survives iff every
    probed bit is set. No exchange of fact, no Python. Null keys are
    pruned (one-sided error only concerns non-null keys an inner join
    could match).

    The bitmap plan is referenced k times with different column aliases,
    which defeats exchange reuse — materialize it once (``bloom_join``
    does ``conf.materialize``) so the dim aggregation runs a
    single time, not per hash.
    """
    out = fact
    conds = []
    for i in range(n_hashes):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
        w, b, m = f"__bloom_w{i}", f"__bloom_b{i}", f"__bloom_m{i}"
        side = bitmap.select(F.col("word").alias(w), F.col("bits").alias(b))
        out = (out.withColumn(w, F.shiftright(pos, 6))
                  .withColumn(m, F.expr(
                      f"shiftleft(CAST(1 AS BIGINT), CAST(pmod("
                      f"xxhash64({key_col}, {i}), {n_bits}) % 64 AS INT))"))
                  .join(F.broadcast(side), w, "left"))
        conds.append(F.col(b).bitwiseAND(F.col(m)) != 0)
    keep = conds[0]
    for c in conds[1:]:
        keep = keep & c
    drop = [c for c in out.columns if c.startswith("__bloom_")]
    return out.filter(keep).drop(*drop)


def bloom_join(fact: DataFrame, dim: DataFrame, fact_key: str,
               dim_key: str, n_bits: int = DEFAULT_BITS,
               n_hashes: int = DEFAULT_HASHES) -> DataFrame:
    """Exact inner join with Bloom pre-pruning of the fact side.

    Equal to ``fact.join(dim, fact[fact_key] == dim[dim_key])`` — the
    filter has no false negatives, so only non-matching rows (which the
    inner join would discard anyway) are pruned early. Use when dim is
    too big to broadcast but selective: the fact shuffle then carries
    matches + ~fp_rate noise instead of the whole table.
    """
    # materialize the (tiny, bounded) bitmap once: its plan is probed k
    # times under different aliases, which defeats exchange reuse
    bm = bloom_bitmap(dim, dim_key, n_bits, n_hashes) \
        .transform(conf.materialize)
    pruned = bloom_prune(fact, bm, fact_key, n_bits, n_hashes)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key])
