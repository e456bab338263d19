"""End-to-end batch pipeline: ingest → rollup tiers → segments → chunks.

Parity anchor: ``yatsm line CONFIG JOB_NUMBER TOTAL_JOBS`` (SURVEY.md §3.1)
— the reference's batch engine distributes image ROWS across independent
jobs with file-existence resume. The graft distributes CONV BUCKETS
(bucket = pmod(xxhash64(conv_id), B)) across sequential Spark jobs, each
internally parallel across the cluster, each committing an atomic bucket
partition + checkpoint manifest. Kill the process after k buckets and rerun:
completed buckets are skipped and the final tables are bit-identical to an
uninterrupted run (tests/test_pipeline.py; BASELINE.md resumability row).

Why a bucket loop at all (vs one giant job): it bounds the blast radius of
failure at 10^12 turns, gives natural per-partition lineage/metrics, and
mirrors the reference's operational model. B is small (16 locally,
hundreds on a cluster); each bucket job still fans out to every executor.

Stage graph per bucket (all conv-local, so everything after staging
shuffles only within the bucket):

    staging(bucket) → 1m rollup ⇒ conv cache → gapfill → tier_1m
                                     ↘ 1h cache → gapfill → tier_1h
                                         ↘ 1d cache → gapfill → tier_1d
                                     ↘ segments (CCDC grouped map)
                                     ↘ chunks_1m (Gorilla grouped map)

A bucket runs two exchanges (salting "none"), both inside the 1m cache:
the rollup's (conv_id, slot) aggregation with map-side partials, then ⇒
a shuffle of only the sparse rollup rows on conv_id, sorted within each
partition on (conv_id, window_start). The gap-fill windows, cascades and
grouped maps all accept that layout, so nothing after it exchanges and
each table has at most the bucket's shuffle width of files. Downstream of
the conv cache, add no repartition.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from yatsm_spark.checkpoint import CheckpointManager
from yatsm_spark.conf import scoped_conf, shuffle_partitions_for_bytes
from yatsm_spark.ingest import with_measures
from yatsm_spark.operators import rollup as R
from yatsm_spark.operators.cascade import cascade
from yatsm_spark.operators.changescore import change_scores, CONV_PARAMS
from yatsm_spark.operators.codec import CHUNK_FORMAT_VERSION, encode_chunks
from yatsm_spark.sources.storage import TIER_FORMAT_VERSION, ParquetStorage, with_bucket


#: The 1m rollup each ``PipelineConfig.salting`` value runs.
_ROLLUP_1M = {
    "none": lambda df: R.rollup_from_turns(df, "1m"),
    "always": lambda df: R.rollup_from_turns_salted(df, "1m"),
    "adaptive": lambda df: R.rollup_from_turns_adaptive(df, "1m"),
}


def _conv_cache(df: DataFrame) -> DataFrame:
    """``df`` (partitioned on conv_id) sorted on (conv_id, window_start)
    within each partition and cached: the order the gap-fill window needs
    and the per-conv time order the grouped maps sort into.

    AQE is off for the ``cache()`` call: an adaptive cached plan reports no
    partitioning and no order until it has run, so every consumer planned
    before then adds its own exchange and sort. (Spark 4.1's
    ``canChangeCachedPlanOutputPartitioning=false`` keeps the cached plan
    adaptive, and the first tier_1m write still exchanges.)"""
    with scoped_conf(df.sparkSession.conf, "spark.sql.adaptive.enabled", "false"):
        return df.sortWithinPartitions("conv_id", "window_start").cache()


@dataclass
class PipelineConfig:
    workdir: str
    n_buckets: int = 16
    tiers: tuple[str, ...] = ("1m", "1h", "1d")
    compress: bool = True
    segments: bool = True
    phenology: bool = False   # A3: append diurnal fields to segments
    chunk_points: int = 4096
    #: rollup skew strategy: "none" (single-phase hash agg; map-side
    #: partials already absorb ordinary zipf skew), "always" (two-phase
    #: salt on every key), "adaptive" (sample-detected hot keys salted,
    #: cold keys single-phase — see BENCH/SKEW.md). Values are
    #: bit-identical across all three (tested).
    salting: str = "none"

    def __post_init__(self):
        if self.salting not in _ROLLUP_1M:
            raise ValueError(f"PipelineConfig.salting must be one of "
                             f"{sorted(_ROLLUP_1M)}, got {self.salting!r}")


@dataclass
class PipelineMetrics:
    staged_turns: int = 0
    buckets: list = field(default_factory=list)
    wall_s: float = 0.0


def _input_fingerprint(df: DataFrame, n_buckets: int) -> tuple[str, dict[int, str], int]:
    """Cheap order-insensitive input fingerprints: count + bit_xor of stable
    hashes — the graft's analogue of the cache image-ID check
    (yatsm/cache.py::update_cache_file [H]).

    One rollup(bucket) pass over the raw transcripts gives every bucket's
    fingerprint and, in its grand-total row, the whole input's.
    Returns (input fingerprint, {bucket: fingerprint}, turn count)."""
    rows = with_bucket(df, n_buckets).rollup("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx))").alias("h1"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, ts))").alias("h2"),
    ).collect()
    if not rows:  # rollup() emits no grand-total row for an empty input
        raise ValueError("run_pipeline: transcripts is empty")
    fps = {r["bucket"]: f"{r['n']}:{r['h1']}:{r['h2']}" for r in rows}
    n = next(r["n"] for r in rows if r["bucket"] is None)
    return fps.pop(None), fps, n


def _counted(df: DataFrame, observed: list, **counts) -> DataFrame:
    """``df`` with named row counts that the action writing it fills in; the
    Observation holding them is appended to ``observed``."""
    obs = Observation()
    observed.append(obs)
    return df.observe(obs, *(c.alias(k) for k, c in counts.items()))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    resume: bool = True,
    fail_after_bucket: int | None = None,
) -> PipelineMetrics:
    """Run (or resume) the full pipeline. fail_after_bucket injects a crash
    for resumability tests."""
    t0 = time.time()
    store = ParquetStorage(cfg.workdir, cfg.n_buckets)
    ckpt = CheckpointManager(cfg.workdir)
    metrics = PipelineMetrics()

    # --- stage 0: bucketed staging of per-turn measures ---------------------
    # One full-input pass; partitionBy(bucket) so each bucket job reads only
    # its own files afterwards (partition pruning on the parquet layout).
    # The staging manifest is fingerprinted from the RAW transcripts: on
    # resume with a changed input dataset, staging re-runs and the stale
    # staged parquet is overwritten — without this the per-bucket
    # fingerprints would be computed from stale staged files, match the old
    # manifests, and silently skip every bucket (round-1 ADVICE, medium).
    staging = "staging_measures"
    stage_fp, bucket_fps, n_turns = _input_fingerprint(transcripts, cfg.n_buckets)
    if not (resume and store.exists(staging) and ckpt.is_done("staging", -1, stage_fp)):
        measures = with_bucket(with_measures(transcripts), cfg.n_buckets)
        t = time.time()
        store.write(measures, staging, partition_by=("bucket",))
        ckpt.commit("staging", -1, stage_fp, n_turns, (time.time() - t) * 1000)
    metrics.staged_turns = n_turns
    staged = store.read(spark, staging)

    count = F.count(F.lit(1))
    sparse_count = F.count_if(~F.col("gap_filled"))
    # The bucket loop sets a data-sized shuffle width per bucket; that is a
    # session-global conf, so the caller's value (or its absence) comes back
    # on every exit path, the injected-failure raise of the resume tests too.
    with scoped_conf(spark.conf, "spark.sql.shuffle.partitions"):
        # --- per-bucket stage graph ---------------------------------------------
        for b in range(cfg.n_buckets):
            bdir = os.path.join(store.path(staging), f"bucket={b}")
            if b not in bucket_fps:
                ckpt.commit(f"bucket", b, "empty", 0, 0.0)
                continue
            bm = staged.where(F.col("bucket") == b).drop("bucket")
            # Data-sized shuffle width per bucket (conf.shuffle_partitions_for_bytes):
            # a fixed width spills at 10x data and over-fragments at 0.1x.
            b_bytes = sum(os.path.getsize(os.path.join(bdir, f))
                          for f in os.listdir(bdir) if f.endswith(".parquet"))
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(shuffle_partitions_for_bytes(
                    b_bytes, spark.sparkContext.defaultParallelism)))
            # Format bumps -> fingerprint mismatch -> the bucket is rewritten on
            # resume instead of leaving mixed-format tables behind.
            fp = f"{bucket_fps[b]}:tfv{TIER_FORMAT_VERSION}"
            if cfg.compress:
                fp = f"{fp}:cfv{CHUNK_FORMAT_VERSION}"
            if resume and ckpt.is_done("bucket", b, fp):
                continue
            t = time.time()
            # Sparse-first dataflow: every shuffle moves only REAL slots; the
            # dense (gap-filled) tiers are generated post-shuffle on the write
            # path, and the kernels densify per conv in numpy. At bench skew
            # the dense tier is ~8x the sparse one — none of it is exchanged.
            # Row counts are observed on the writes themselves: the sparse
            # count of a tier is its non-gap rows.
            sparse = _conv_cache(_ROLLUP_1M[cfg.salting](bm).repartition("conv_id"))
            cached, observed, stored = [sparse], [], {}

            def write(df: DataFrame, table: str, **counts) -> None:
                """Write one bucket table, its row counts observed on the
                write and its bytes and files listed from disk afterwards."""
                store.write_bucket(_counted(df, observed, **counts), table, b)
                stored[f"bytes_{table}"], stored[f"files_{table}"] = \
                    store.bucket_size(table, b)

            write(R.gapfill(sparse, "1m"), "tier_1m",
                  rollup_1m_sparse=sparse_count, rollup_1m=count)

            prev = sparse
            for tier_from, tier_to in (("1m", "1h"), ("1h", "1d")):
                if tier_to not in cfg.tiers:
                    continue
                nxt = _conv_cache(cascade(prev, tier_from, tier_to))
                cached.append(nxt)
                write(R.gapfill(nxt, tier_to), f"tier_{tier_to}",
                      **{f"rollup_{tier_to}": sparse_count})
                prev = nxt

            if cfg.segments:
                segs = change_scores(sparse, "turn_count", CONV_PARAMS, densify=True,
                                     phenology=cfg.phenology)
                write(segs, "segments", segments=count)

            if cfg.compress:
                write(encode_chunks(sparse, "1m", cfg.chunk_points, densify=True),
                      "chunks_1m", chunks_1m=count)

            for df in cached:
                df.unpersist()
            rows = {k: v for o in observed for k, v in o.get.items()}
            m = ckpt.commit("bucket", b, fp, rows.get("rollup_1m", 0),
                            (time.time() - t) * 1000, **rows, **stored)
            metrics.buckets.append(m)
            if fail_after_bucket is not None and b >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {b}")

    metrics.wall_s = time.time() - t0
    return metrics
