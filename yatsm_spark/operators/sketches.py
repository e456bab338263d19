"""Mergeable sketches for corpus-scale statistics: HyperLogLog distinct
counting and an HDR-style log-histogram for quantiles.

At 100 TB you cannot afford COUNT(DISTINCT) shuffles of raw values or
full sorts for percentiles; the standard answer is a sketch whose merge
is a commutative, associative reduction the engine can run map-side.
Both sketches here are chosen so that the *whole* sketch state is
reproducible bit-for-bit in any engine and at any parallelism:

- ``hll_registers`` / ``hll_distinct`` — HyperLogLog (Flajolet et al.
  2007) with p=12 (m=4096 registers) over md5. A register is
  max(rho(w)) — MAX is order-independent, so the register table is
  EXACT regardless of partitioning, and the estimator is evaluated
  from exact integer inputs: sum(2^-register) is accumulated as the
  integer numerator sum(2^(61-register)) in decimal(38,0)/HUGEINT
  (exact, associative), cast to double ONCE, and fed through a fixed
  expression tree. The only transcendental (ln in the linear-counting
  branch) is snapped to the 1e-6 grid in both engines.
- ``hdr_histogram`` / ``hdr_quantiles`` — a base-2 histogram with 4
  sub-buckets per octave (HdrHistogram / DDSketch shape, gamma ~=
  2^(1/4), relative error <= ~9%): bucket(x) = x for x <= 3, else
  (bitlen(x)-2)*4 + ((x >> (bitlen(x)-3)) & 3) — PURE integer bit
  math, no log() near bucket boundaries to disagree by 1 ulp. Counts
  merge by SUM; quantile ranks use rational arithmetic
  (ceil(qn*n/qd) via integer division), so bucket selection is
  engine-independent by construction.

Scale shape (audited in BENCH/PLANS.md): the raw->sketch aggregation is
the only corpus-sized shuffle and it partial-aggregates map-side (a map
task emits at most m rows per group, not its row count); everything
after operates on sketch-sized data (<= 4096 rows per group for HLL,
<= ~250 buckets per group for HDR).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark import conf
from yatsm_spark.operators.grid import snap6

#: HLL precision: p=12 -> m=4096 registers; md5 nibbles 1-3 pick the
#: register, nibbles 4-18 give the 60-bit rho stream.
HLL_P = 12
HLL_M = 1 << HLL_P
#: alpha_m * m^2 * 2^61 precomputed in Python so BOTH engines consume
#: the identical double literal (no cross-engine division of constants).
_ALPHA_M = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_K = _ALPHA_M * float(HLL_M) * float(HLL_M) * 2.0 ** 61
#: linear-counting switchover (standard 2.5 * m)
_HLL_SMALL = 2.5 * HLL_M

#: default quantiles as exact rationals (numerator, denominator, label)
DEFAULT_QUANTILES = [(1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")]


def hll_parts(value_col: str):
    """(bucket, rho) column pair for one value — the per-row sketch
    update, shared by the batch and streaming register maintainers."""
    h = F.md5(F.col(value_col).cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    w = F.conv(F.substring(h, 4, 15), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(61)) \
           .otherwise(F.lit(61) - F.length(F.bin(w))).cast("int")
    return bucket, rho


def hll_registers(df: DataFrame, group_cols: list[str],
                  value_col: str) -> DataFrame:
    """Exact HLL register table: (group..., bucket, register). MAX-merge
    makes it identical at any parallelism; register in [1, 61]."""
    bucket, rho = hll_parts(value_col)
    return (df.filter(F.col(value_col).isNotNull())
              .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
              .groupBy(*group_cols, "bucket")
              .agg(F.max("rho").alias("register")))


def hll_estimate(reg: DataFrame, group_cols: list[str]) -> DataFrame:
    """Estimator over a register table (batch- or stream-maintained):
    (group..., n_buckets_used, v_zero, est_distinct). The integer core
    (sum 2^(61-register) in decimal(38,0)) is exact and
    order-independent; est_distinct is snapped to the 1e-6 grid."""
    numer = (reg.groupBy(*group_cols)
                .agg(F.count("*").alias("n_buckets_used"),
                     F.sum(F.expr(
                         "cast(shiftleft(cast(1 as bigint), 61 - register)"
                         " as decimal(38,0))")).alias("_s"))
                .withColumn("v_zero",
                            (F.lit(HLL_M) - F.col("n_buckets_used"))
                            .cast("long"))
                .withColumn("_numer", F.expr(
                    "cast(_s + cast(v_zero as decimal(38,0))"
                    " * cast(2305843009213693952 as decimal(38,0))"
                    " as double)")))
    e_raw = F.lit(_HLL_K) / F.col("_numer")
    e = F.when((e_raw <= F.lit(_HLL_SMALL)) & (F.col("v_zero") > 0),
               F.lit(float(HLL_M)) *
               F.log(F.lit(float(HLL_M)) / F.col("v_zero"))) \
         .otherwise(e_raw)
    return numer.select(*group_cols, "n_buckets_used", "v_zero",
                        snap6(e).alias("est_distinct"))


def hll_distinct(df: DataFrame, group_cols: list[str],
                 value_col: str) -> DataFrame:
    """Per-group approximate distinct count of ``value_col`` — the
    batch composition register-maintenance -> estimator."""
    return hll_estimate(hll_registers(df, group_cols, value_col),
                        group_cols)


#: bucket(x) over a column literally named _x — identity below 4, then
#: 4 sub-buckets per octave from the top 3 bits; pure integer bit ops.
_HDR_BUCKET_SQL = (
    "cast(CASE WHEN _x <= 3 THEN _x ELSE"
    " (length(bin(_x)) - 2) * 4"
    " + (shiftright(_x, cast(length(bin(_x)) as int) - 3) & 3)"
    " END as int)")

#: lower bound of a bucket (column literally named bucket)
_HDR_VALUE_SQL = (
    "cast(CASE WHEN bucket <= 3 THEN bucket ELSE"
    " shiftleft(cast(4 + bucket % 4 as bigint),"
    "           cast(bucket div 4 as int) - 1)"
    " END as bigint)")


def hdr_histogram(df: DataFrame, group_cols: list[str],
                  value_col: str) -> DataFrame:
    """(group..., bucket, cnt): sum-mergeable log2/4-sub-bucket counts
    of a non-negative integer column. One corpus shuffle with map-side
    partial counts; output is sketch-sized."""
    x = F.col(value_col).cast("long")
    return (df.filter(x.isNotNull() & (x >= 0))
              .select(*group_cols, x.alias("_x"))
              .select(*group_cols, F.expr(_HDR_BUCKET_SQL).alias("bucket"))
              .groupBy(*group_cols, "bucket")
              .agg(F.count("*").alias("cnt")))


def hdr_quantiles(df: DataFrame, group_cols: list[str], value_col: str,
                  quantiles=None) -> DataFrame:
    """Per-group quantile estimates from the HDR histogram:
    (group..., q_label, n, target_rank, bucket, est_value). The rank is
    ceil(qn * n / qd) in integer arithmetic; the answer is the smallest
    bucket whose cumulative count reaches it; est_value is the bucket's
    lower bound (relative error bounded by the octave sub-division)."""
    return hdr_quantiles_from_hist(
        hdr_histogram(df, group_cols, value_col), group_cols, quantiles)


def hdr_quantiles_from_hist(hist: DataFrame, group_cols: list[str],
                            quantiles=None) -> DataFrame:
    """Quantiles from an ALREADY-built (group..., bucket, cnt) histogram
    — the continuous-aggregate serve path: fine-grain histograms are
    SUM-merged up a tier cascade (counts are commutative integers, so
    the merged sketch is BIT-identical to one built from raw), then
    quantiles read off the coarse tier without touching raw data. The
    input may carry duplicate (group, bucket) rows (e.g. a union of
    per-partition partials); they are re-summed here first."""
    quantiles = DEFAULT_QUANTILES if quantiles is None else quantiles
    hist = (hist.groupBy(*group_cols, "bucket")
                .agg(F.sum("cnt").alias("cnt")))
    wc = Window.partitionBy(*group_cols).orderBy("bucket") \
               .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.partitionBy(*group_cols)
    cum = (hist.withColumn("cum", F.sum("cnt").over(wc))
               .withColumn("n", F.sum("cnt").over(wn)))
    qdf = F.broadcast(hist.sparkSession.createDataFrame(
        quantiles, "qn long, qd long, q_label string"))
    picked = (cum.crossJoin(qdf)
                 .withColumn("target_rank",
                             F.expr("(qn * n + qd - 1) div qd"))
                 .filter(F.col("cum") >= F.col("target_rank"))
                 .groupBy(*group_cols, "q_label")
                 .agg(F.first("n").alias("n"),
                      F.first("target_rank").alias("target_rank"),
                      F.min("bucket").alias("bucket")))
    return picked.select(*group_cols, "q_label", "n", "target_rank",
                         "bucket",
                         F.expr(_HDR_VALUE_SQL).alias("est_value"))


#: Count-min sketch shape (Cormode & Muthukrishnan 2005): depth
#: independent md5-salted hash rows, SUM-merged counters. width=2048
#: gives eps = e/w ~= 0.13% of the stream length per cell; depth=4
#: drives the over-estimate probability per query to e^-4 ~= 1.8%.
CMS_DEPTH = 4
CMS_WIDTH = 2048


def cms_col(value_col: str, r: int):
    """Counter column for hash row ``r``: low 60 bits of
    md5('cms{r}|' || value) mod width. Same literal recipe both
    engines; value is cast to string so any type hashes stably."""
    h = F.md5(F.concat(F.lit(f"cms{r}|"), F.col(value_col).cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % CMS_WIDTH


def cms_table(df: DataFrame, group_cols: list[str], value_col: str,
              cell=cms_col, depth: int = CMS_DEPTH) -> DataFrame:
    """Exact CMS counter table: (group..., r, c, cnt) over ``depth`` hash
    rows, ``cell(value_col, r)`` being row r's counter column. Counters
    merge by SUM (commutative/associative), so the table is bit-identical
    at any parallelism. One corpus shuffle with map-side partials: a map
    task emits at most depth*width rows per group, not its row count."""
    cells = F.array(*[
        F.struct(F.lit(r).alias("r"), cell(value_col, r).alias("c"))
        for r in range(depth)])
    return (df.filter(F.col(value_col).isNotNull())
              .select(*group_cols, F.explode(cells).alias("_cell"))
              .select(*group_cols, F.col("_cell.r").alias("r"),
                      F.col("_cell.c").alias("c"))
              .groupBy(*group_cols, "r", "c")
              .agg(F.count("*").alias("cnt")))


def _with_cms_estimate(df: DataFrame, cms: DataFrame,
                       group_cols: list[str], value_col: str,
                       out_col: str, cell=cms_col,
                       depth: int = CMS_DEPTH) -> DataFrame:
    """Append ``out_col`` = min over hash rows of the matching counter
    (missing cell = 0) of a ``cms_table`` built with the same ``cell``
    and ``depth``. depth broadcast hash joins — the sketch is
    bounded (groups * depth * width rows) so every join is narrow and
    shuffle-free on the probe side. ``cms`` must be materialized
    (``conf.materialize``) so the depth probes don't recompute the corpus
    aggregation once per join."""
    ests = []
    for r in range(depth):
        side = (cms.filter(F.col("r") == r)
                   .select(*group_cols, F.col("c").alias(f"_c{r}"),
                           F.col("cnt").alias(f"_n{r}")))
        df = (df.withColumn(f"_c{r}", cell(value_col, r))
                .join(F.broadcast(side), [*group_cols, f"_c{r}"], "left"))
        ests.append(F.coalesce(F.col(f"_n{r}"), F.lit(0)))
    return (df.withColumn(out_col, F.least(*ests))
              .drop(*[f"_c{r}" for r in range(depth)],
                    *[f"_n{r}" for r in range(depth)]))


def cms_estimate(df: DataFrame, group_cols: list[str],
                 value_col: str, items: DataFrame) -> DataFrame:
    """Point-query the CMS built over ``df``: for each row of ``items``
    (group... + value_col), return (group..., value, est_count) with
    the classic one-sided guarantee est_count >= true count."""
    cms = conf.materialize(cms_table(df, group_cols, value_col))
    est = _with_cms_estimate(items, cms, group_cols, value_col,
                             "est_count")
    return est.select(*group_cols, value_col, "est_count")


def _cms_col_fast(width: int):
    """Cell function of the fast internal sketch: hash row ``r``'s counter
    is JVM-native xxhash64 salted by r, pmod'd to ``width``. Used only by
    the heavy-hitter PREFILTER, where the sketch never reaches the
    output (any hash family keeps the one-sided guarantee); the
    cross-engine md5 recipe of :func:`cms_col` stays the contract for
    point estimates the oracle replays."""
    return lambda value_col, r: F.pmod(F.xxhash64(F.lit(r), F.col(value_col)),
                                       F.lit(width))


def heavy_hitters(df: DataFrame, group_cols: list[str], value_col: str,
                  min_count: int, depth: int = 2,
                  width: int = 1 << 17, prefilter: str = "auto",
                  sample_fraction: float = 0.01) -> DataFrame:
    """EXACT per-group heavy hitters (count >= min_count), CMS-
    accelerated: pass 1 builds the sketch; pass 2 drops every row whose
    value's CMS estimate is already < min_count BEFORE the exact
    count shuffle. Because the CMS never under-estimates, no true heavy
    hitter is filtered — the output equals plain GROUP BY ... HAVING,
    which is exactly what the oracle runs. The sketch only shrinks the
    shuffle: at 100 TB with a selective threshold the exchange carries
    the heavy values' rows, not the corpus's long tail.

    Sketch sizing (r6): the prefilter only pays when the expected
    collision mass per cell (stream_len / width) sits well BELOW
    min_count — the previous fixed 4x2048 md5 sketch put ~1.3e4 counts
    in every cell at bench scale, so the filter kept 100% of rows while
    charging 8 md5-of-string evaluations per row. The internal sketch
    now uses JVM xxhash64 cells (no string concat / hex decode), depth 2
    (the run-time cost is per-row hashes; a light value only needs ONE
    under-threshold row to be dropped, and depth governs how often
    collisions inflate a light cell — 2 is plenty when width keeps
    cells ~200x under the threshold) and width 2^17 per hash row.
    Memory stays bounded by group_count x depth x width counters; size
    ``width`` ~ stream_len / min_count x a safety factor on bigger
    corpora.

    prefilter="auto" (r6): the sketch only pays when the exact
    aggregation's map-side partials CANNOT compress — i.e. when distinct
    values per scan task approach the task's row count (the 10^10-key
    regime). When values repeat heavily (the bench regime: 20k convs over
    78M rows), partial aggregation already bounds the shuffle at distinct-
    keys-per-task and the two sketch passes are pure overhead (measured
    8.9s sketched vs 1.2s exact at sf0.1). A seeded ~1% sample estimates
    the distinct count (values with multiplicity >= ~1/fraction all appear
    in the sample, so its distinct count approaches the true D exactly in
    the repeated-values regime where we must choose "exact"); the sketch
    path is taken when that estimate reaches half the rows-per-scan-task.
    Both paths return the identical exact result — the decision only
    picks the physical plan, AQE-style. prefilter="always"/"never" pin a
    path (used by tests)."""
    rows = df.filter(F.col(value_col).isNotNull()) \
             .select(*group_cols, value_col)
    if prefilter == "auto":
        n_tasks = max(1, rows.rdd.getNumPartitions())
        s = (rows.sample(fraction=sample_fraction, seed=42)
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.count_distinct(F.col(value_col)).alias("d")).first())
        est_n = (s["n"] or 0) / sample_fraction
        use_sketch = (s["d"] or 0) * 2 >= max(1.0, est_n / n_tasks)
    else:
        use_sketch = prefilter == "always"
    if not use_sketch:
        return (rows.groupBy(*group_cols, value_col)
                    .agg(F.count("*").alias("cnt"))
                    .filter(F.col("cnt") >= min_count))
    cell = _cms_col_fast(width)
    cms = conf.materialize(cms_table(rows, group_cols, value_col, cell, depth))
    pre = _with_cms_estimate(rows, cms, group_cols, value_col, "_est",
                             cell, depth).filter(F.col("_est") >= min_count)
    return (pre.groupBy(*group_cols, value_col)
               .agg(F.count("*").alias("cnt"))
               .filter(F.col("cnt") >= min_count))
