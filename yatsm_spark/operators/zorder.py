"""Z-order (Morton) clustering — multi-dimensional data layout for
min/max data skipping, the storage-side lever that makes selective
multi-column scans cheap at 100 TB. Works on any table (the events table in
the declared queries) and names its key column ``z``.

Why: parquet/Iceberg readers prune files and row groups by per-column
min/max statistics. A layout sorted on one column skips well on that
column only; interleaving the bits of several columns into one sort key
gives every participating column locality, so a 2-D box predicate skips
most of the corpus (the Delta/Iceberg OPTIMIZE ZORDER BY design).

Exactness: the key is PURE integer/bit math over grid positions. Numeric
columns are scaled to [0, 2^bits) with ``floor((x - min) * (2^bits - 1)
/ (max - min))`` evaluated in one fixed double expression (identical in
both engines); min/max come from a single tiny 2-row aggregate (one
corpus scan with map-side partials, a bounded driver collect — the same
shape as the PCA moment pass). Strings ride their md5 top bits, already
uniform. The interleave itself is shiftleft/AND terms summed in a fixed
order — bit-identical everywhere, hence oracle-checkable.

Scale shape: ``cluster_by_zorder`` is ONE range shuffle on the z key
(repartitionByRange samples the key distribution, so output files are
balanced even under skew) + an in-partition sort that parquet writers
turn into tight per-file min/max ranges. Nothing is collected beyond
the 2-row stats frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: default grid resolution per dimension; bits * n_cols must stay < 63
DEFAULT_BITS = 16


def _grid_col(df: DataFrame, col: str, bits: int, stats: dict):
    """Integer grid position in [0, 2^bits) for one column."""
    dt = dict(df.dtypes)[col]
    cells = (1 << bits) - 1
    if dt == "string":
        # md5 top bits: uniform, deterministic, no stats needed
        return F.conv(F.substring(F.md5(F.col(col)), 1, 15), 16, 10) \
                .cast("long") % (cells + 1)
    # timestamps ride exact integer microseconds (cast to double is
    # exact below 2^53 us ~ year 2255) — Spark unix_micros == DuckDB
    # epoch_us, no fractional-second dialect gap; the NTZ->LTZ cast is
    # identity under the engine's pinned UTC session timezone (conf.py)
    x = (F.col(col).cast("double") if not dt.startswith("timestamp")
         else F.unix_micros(F.col(col).cast("timestamp")).cast("double"))
    lo, hi = stats[col]
    if hi <= lo:  # constant column: everything lands on cell 0
        return F.lit(0).cast("long")
    scaled = F.floor((x - F.lit(float(lo))) * F.lit(float(cells))
                     / F.lit(float(hi - lo))).cast("long")
    # clamp: float edge cases at the max can land on cells + 1
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(cells))


def _collect_stats(df: DataFrame, cols: list[str]) -> dict:
    """min/max for the numeric/timestamp participants — one aggregate
    row (bounded collect)."""
    dts = dict(df.dtypes)
    aggs = []
    for c in cols:
        if dts[c] == "string":
            continue
        x = (F.col(c).cast("double") if not dts[c].startswith("timestamp")
             else F.unix_micros(F.col(c).cast("timestamp")).cast("double"))
        aggs += [F.min(x).alias(f"_lo_{c}"), F.max(x).alias(f"_hi_{c}")]
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"_lo_{c}"], row[f"_hi_{c}"])
            for c in cols if dts[c] != "string"}


def zorder_key(df: DataFrame, cols: list[str], bits: int = DEFAULT_BITS,
               stats: dict | None = None) -> DataFrame:
    """Append ``z``, the Morton key of ``cols``: bit b of column c lands at
    output bit ``b * n_cols + c``. ``stats`` ({col: (lo, hi)}) can be
    passed to pin the grid externally (e.g. table-level bounds so keys
    stay comparable across incremental writes)."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(
            f"{bits} bits x {len(cols)} cols exceeds the 63-bit key; "
            "lower bits or cluster fewer columns")
    if stats is None:
        stats = _collect_stats(df, cols)
    grids = [_grid_col(df, c, bits, stats) for c in cols]
    tmp = df.select("*", *[g.alias(f"_g{i}") for i, g in enumerate(grids)])
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i in range(len(cols)):
            z = z + F.shiftleft(
                F.shiftright(F.col(f"_g{i}"), b) % 2,
                b * len(cols) + i)
    return tmp.withColumn("z", z) \
              .drop(*[f"_g{i}" for i in range(len(cols))])


def cluster_by_zorder(df: DataFrame, cols: list[str],
                      n_partitions: int, bits: int = DEFAULT_BITS) -> DataFrame:
    """Range-partition + sort on the Morton key — the write-side layout
    pass. One shuffle; repartitionByRange's sampled bounds keep output
    files balanced under value skew."""
    keyed = zorder_key(df, cols, bits)
    return keyed.repartitionByRange(n_partitions, "z") \
                .sortWithinPartitions("z")


def skipping_ratio(paths_stats: list[dict], lo: dict, hi: dict) -> float:
    """Fraction of files a box predicate can SKIP given per-file min/max
    stats ([{col: (mn, mx)}]). Pure arithmetic over footer metadata —
    the same decision a parquet reader makes; used by tests/bench to
    quantify the layout win without depending on reader internals."""
    if not paths_stats:
        return 0.0
    skipped = 0
    for st in paths_stats:
        overlap = all(not (st[c][1] < lo[c] or st[c][0] > hi[c])
                      for c in lo)
        if not overlap:
            skipped += 1
    return skipped / len(paths_stats)
