"""Deterministic sampling for the training-data pipeline, over the documents
table (``doc_id``, ``source``).

Corpus builders sample constantly — per-source quotas, held-out eval
splits, decontamination spot checks — and at 100 TB the sample must be
(a) reproducible run-to-run with no RNG state, (b) cheap (no full sort),
and (c) auditable (membership decidable per row from the row alone, or
from the row plus a bounded per-stratum rank). Both operators here use a
closed-form integer hash instead of rand(): Knuth's multiplicative hash
h(id) = (id * 2654435761) mod 2^32 — pure bigint arithmetic, bit-exact
in any engine, so the DuckDB oracle reproduces membership EXACTLY.

- ``sample_hash``: rate-based Bernoulli-style sample, keep iff
  h(id) mod D < rate * D. A pure narrow filter — no shuffle, no sort,
  evaluated inside the scan stage; the sampled fraction concentrates
  around `rate` by hash uniformity. This is the 100 TB default.
- ``sample_stratified``: EXACT n-per-stratum quota — row_number over
  (stratum, ordered by (h(id), id)) <= n. One shuffle on the stratum
  key; the hash ordering makes the quota a uniform draw while keeping
  it deterministic. Because the rank filter is a row_number <= n on the
  window's own ordering, Spark plans a PARTIAL WindowGroupLimit below
  the exchange (audited in BENCH/PLANS.md): every map task pre-trims to
  its local top-n per stratum, so a pathologically hot stratum shuffles
  at most n x num_map_tasks rows — not the stratum's row count — and
  the reduce side is bounded the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark import conf
from yatsm_spark.operators.grid import micro6

#: Knuth multiplicative constant (2^32 / phi); ids here are < 2^31 so the
#: product stays far inside int64 — no overflow wrap to reason about.
_KNUTH = 2654435761
_MOD = 1 << 32


def _hash_col():
    return F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(_MOD))


def sample_hash(df: DataFrame, rate: float, complement: bool = False) -> DataFrame:
    """Keep rows with h(id) mod 2^32 < rate * 2^32. Deterministic,
    shuffle-free, and composable: sample_hash(r1) ∘ sample_hash(r2) on
    the same id column keeps min(r1, r2) (the smaller threshold wins),
    because membership is a threshold on the SAME hash value.

    ``complement=True`` keeps the OTHER side of the same threshold, so
    (sample, complement) is an exact partition of the input — the
    deterministic holdout split (e.g. eval set vs train set)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    threshold = int(rate * _MOD)
    cond = _hash_col() < F.lit(threshold)
    return df.filter(~cond if complement else cond)


def sample_stratified(df: DataFrame, n_per_stratum: int) -> DataFrame:
    """Exactly min(n, |source|) rows per source, drawn uniformly by
    hash order. Output carries the within-stratum draw rank so the
    sample is extensible: the rank<=m prefix IS sample_stratified(m)."""
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    w = Window.partitionBy("source").orderBy(
        _hash_col().asc(), F.col("doc_id").asc())
    return (df.withColumn("draw_rank", F.row_number().over(w))
              .filter(F.col("draw_rank") <= n_per_stratum))


def sample_mixture(df: DataFrame, weights: dict[str, float],
                   total: int) -> DataFrame:
    """Deterministic DOMAIN-MIXTURE sample: draw ~``total`` rows whose
    composition follows ``weights`` (the training-mix recipe — e.g.
    {'web': 0.6, 'code': 0.25, 'books': 0.15}).

    Per stratum s the keep rate is r_s = min(1, total * w_s / n_s) —
    one tiny count aggregate decides the rates, then membership is the
    same closed-form Knuth threshold as ``sample_hash``, evaluated
    per-row inside the scan (no shuffle, no sort, no RNG state). Strata
    smaller than their quota are kept whole (r_s capped at 1) — the
    standard under-supplied-domain behavior; the output carries the
    applied ``mix_rate`` so downstream can up-weight instead.

    Composability: thresholds on the SAME hash mean a stratum's sample
    at a lower total is a SUBSET of its sample at a higher total — mixes
    are extensible the way sample_stratified prefixes are. Weights must
    be positive; strata absent from ``weights`` are dropped (explicit
    recipe, no silent passthrough)."""
    if total < 1:
        raise ValueError("total must be >= 1")
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {k: w for k, w in weights.items() if w <= 0}
    if bad:
        raise ValueError(f"weights must be positive, got {bad}")
    counts = {r["source"]: r["n"] for r in
              df.filter(F.col("source").isin(list(weights)))
                .groupBy("source").agg(F.count("*").alias("n"))
                .collect()}
    wsum = sum(weights.values())
    spark = df.sparkSession
    rates = [(s, min(1.0, (total * (w / wsum)) / counts[s]))
             for s, w in sorted(weights.items()) if s in counts]
    if not rates:
        return df.filter(F.lit(False)) \
                 .withColumn("mix_rate", F.lit(0.0))
    rate_df = F.broadcast(spark.createDataFrame(
        rates, "source string, mix_rate double"))
    thresh = F.floor(F.col("mix_rate") * F.lit(float(_MOD)))
    return (df.join(rate_df, "source")
              .filter(_hash_col() < thresh))


def global_shuffle(df: DataFrame, seed: int = 0,
                   n_parts: int | None = None) -> DataFrame:
    """Deterministic global shuffle order for training-data export:
    assigns every row a contiguous ``shuffle_pos`` in 0..n-1 following
    the pseudo-random total order (knuth_hash(id + seed), id) — the
    "shuffle the corpus once, stream it in order" step every pre-training
    data loader wants, reproducible with no RNG state.

    Scale shape — this is the operator where the naive spelling breaks:
    ``row_number() OVER (ORDER BY h)`` with no PARTITION BY collapses the
    whole table into ONE reducer. Instead: (1) repartitionByRange on the
    order key — range partition i holds strictly smaller keys than i+1;
    (2) per-partition local rank (window partitioned by the range
    partition id — parallel); (3) per-partition counts (one tiny agg,
    <= n_parts rows on the driver) turned into cumulative offsets and
    broadcast-joined back; pos = offset + local_rank - 1. Every stage is
    corpus-parallel; the only driver state is n_parts integers. The
    assignment (id -> pos) is independent of where Spark's sampled range
    boundaries land, because concatenating sorted ranges in range order
    IS the global sort order.

    Oracle: ``row_number() OVER (ORDER BY h, id) - 1`` in DuckDB —
    tractable at sf0.01, which is exactly why the operator's contract is
    SQL-checkable while its plan is not the SQL plan.
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism
    key = F.pmod((F.col("doc_id") + F.lit(int(seed))) * F.lit(_KNUTH),
                 F.lit(_MOD)).alias("_h")
    # materialize pins ONE computation: the counts collected below
    # and the window pass must see identical partition contents (range
    # boundaries come from sampling; recomputing the exchange could place
    # them differently and silently shift every offset).
    d = (df.select(F.col("doc_id"), key)
         .repartitionByRange(n_parts, F.col("_h"), F.col("doc_id"))
         .withColumn("_part", F.spark_partition_id())
         .transform(conf.materialize))
    counts = (d.groupBy("_part").agg(F.count(F.lit(1)).alias("_c"))
              .orderBy("_part").collect())
    offsets, acc = {}, 0
    for r in counts:
        offsets[r._part] = acc
        acc += r._c
    off = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "_part int, _off long")
    w = Window.partitionBy("_part").orderBy(F.col("_h"), F.col("doc_id"))
    return (d.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(off), "_part")
            .select(F.col("doc_id"),
                    (F.col("_off") + F.col("_rn") - 1).alias("shuffle_pos")))


def global_rank(df: DataFrame, order_cols: list,
                n_parts: int | None = None) -> DataFrame:
    """Contiguous 1-based global rank following ``order_cols`` WITHOUT a
    one-reducer window: repartitionByRange on the order key, per-
    partition local rank, tiny count agg -> broadcast cumulative offsets
    (the global_shuffle shape — the only driver state is n_parts
    integers). ``order_cols`` are column NAMES already present on df
    (negate numerics beforehand for descending order); appends
    ``rank`` and drops nothing else."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    # Lazy-checkpoint the INPUT too: repartitionByRange draws its range
    # bounds by sampling-executing the child plan, so an expensive upstream
    # (e.g. dsir_weights feeding dsir_select) otherwise runs twice — once
    # for the sampling pass, once for the real exchange.
    d = (df.transform(conf.materialize, eager=False)
         .repartitionByRange(n_parts, *cols)
         .withColumn("_part", F.spark_partition_id())
         .transform(conf.materialize))
    counts = (d.groupBy("_part").agg(F.count(F.lit(1)).alias("_c"))
              .orderBy("_part").collect())
    offsets, acc = {}, 0
    for r in counts:
        offsets[r._part] = acc
        acc += r._c
    off = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_part int, _off long")
    w = Window.partitionBy("_part").orderBy(*cols)
    return (d.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(off), "_part")
            .withColumn("rank", F.col("_off") + F.col("_rn"))
            .drop("_part", "_rn", "_off"))


def weighted_sample(df: DataFrame, weight_col: str, k: int, seed: int = 0,
                    n_parts: int | None = None) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-ES): each row gets key = ln(u)/w with u a
    hash-derived uniform in (0,1) and w its positive integer weight; the
    k largest keys are the sample — inclusion probability proportional
    to weight, no RNG state (u = (knuth_hash(id+seed)+0.5)/2^32, so the
    draw replays bit-identically anywhere).

    The key is snapped to integer micro-units (the ln() discipline of
    lm_score/dsir) so ranking is integer-exact cross-engine, with id as
    the tie-break. Rows with weight <= 0 are excluded (they can never be
    drawn). Emits (doc_id, weight, es_key, rank, kept); the rank <= m prefix
    IS weighted_sample(m) — extensible like sample_stratified. Selection
    uses :func:`global_rank` (range partition + offsets, no one-reducer
    window)."""
    h = F.pmod((F.col("doc_id") + F.lit(int(seed))) * F.lit(_KNUTH),
               F.lit(_MOD))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_MOD))
    key_micro = micro6(F.log(u) / F.col(weight_col).cast("double")).cast("long")
    base = (df.filter(F.col(weight_col) > 0)
            .select("doc_id", weight_col, key_micro.alias("key_micro"))
            .withColumn("_neg", -F.col("key_micro")))
    ranked = global_rank(base, ["_neg", "doc_id"], n_parts)
    return ranked.select(
        "doc_id", weight_col,
        F.round(F.col("key_micro") / 1e6, 6).alias("es_key"),
        F.col("rank").alias("draw_rank"),
        (F.col("rank") <= k).alias("kept"))
