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

A bucket runs two exchanges, both inside the 1m cache:
the rollup's (conv_id, slot) aggregation with map-side partials, then ⇒
a shuffle of only the sparse rollup rows on conv_id, sorted within each
partition on (conv_id, window_start). The gap-fill windows, cascades and
grouped maps all accept that layout, so nothing after it exchanges and
each table has at most the bucket's shuffle width of files. Downstream of
the conv cache, add no repartition.

That width comes from the bucket's staged bytes
(``conf.shuffle_partitions_for_bytes``): one partition per MiB up to the
core count, so a bucket under 1 MiB writes one file per table. The
parallelism a bucket narrower than the cores loses inside a table it gets
back across tables: the three caches are registered and the sparse one filled, then
each table's write starts on a thread of its own as soon as its frame is
built (``ParquetStorage.bucket_writes``; the thread keeps the job group
current then), and all of them run at once over the shared caches. A
bucket as wide as the cores writes its tables one after another. The
manifest commits only after every write has ended, and not at all if one
raised.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from yatsm_spark.checkpoint import CheckpointManager
from yatsm_spark.conf import scoped_conf, shuffle_partitions_for_bytes
from yatsm_spark.ingest import with_measures
from yatsm_spark.operators import rollup as R
from yatsm_spark.operators.cascade import cascade
from yatsm_spark.operators.changescore import change_scores, CONV_PARAMS
from yatsm_spark.operators.codec import (CHUNK_FORMAT_VERSION, count_underived,
                                         encode_chunks)
from yatsm_spark.sources.storage import TIER_FORMAT_VERSION, ParquetStorage, with_bucket

#: Every table a bucket run can write; one run writes the tiers and the
#: tables its config turns on.
BUCKET_TABLES = ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m")


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


def _fill(cache: DataFrame) -> None:
    """Compute ``cache``'s blocks now, in one job: a count planned with AQE
    off, as the cache was (an adaptive plan would run a job for the cache
    and another for the count)."""
    with scoped_conf(cache.sparkSession.conf, "spark.sql.adaptive.enabled", "false"):
        cache.count()


@dataclass
class PipelineConfig:
    workdir: str
    n_buckets: int = 16
    compress: bool = True
    segments: bool = True
    phenology: bool = False   # A3: append diurnal fields to segments


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
    # the staged files are split into cfg.n_buckets partitions
    stage_fp = f"{stage_fp}:b{cfg.n_buckets}"
    if not (resume and store.exists(staging) and ckpt.is_done("staging", -1, stage_fp)):
        measures = with_bucket(with_measures(transcripts), cfg.n_buckets)
        t = time.time()
        store.write(measures, staging)
        ckpt.commit("staging", -1, stage_fp, n_turns, (time.time() - t) * 1000)
    metrics.staged_turns = n_turns
    staged = store.read(spark, staging)

    # Buckets past cfg.n_buckets were written by a run with more buckets; a
    # directory with a name that is not an integer (bucket=0.inprogress, the
    # staging name before it took a leading dot) was never committed.
    for table in BUCKET_TABLES:
        for name in store.bucket_names(table):
            if not name.isdigit() or int(name) >= cfg.n_buckets:
                store.drop_bucket(table, name)
    for m in ckpt.manifests("bucket"):
        if m["bucket"] >= cfg.n_buckets:
            ckpt.drop("bucket", m["bucket"])

    tables = ["tier_1m", "tier_1h", "tier_1d"]
    if cfg.segments:
        tables.append("segments")
    if cfg.compress:
        tables.append("chunks_1m")
    # A bucket's fingerprint covers its input, the tables written, their
    # columns and their format versions: a resume rewrites a bucket when
    # any of them changed, instead of keeping tables of another config or
    # mixing formats in one table.
    written = "+".join(tables) + (":phenology" if cfg.segments and cfg.phenology else "")
    written += f":tfv{TIER_FORMAT_VERSION}"
    if cfg.compress:
        written += f":cfv{CHUNK_FORMAT_VERSION}"

    count = F.count(F.lit(1))
    sparse_count = F.count_if(~F.col("gap_filled"))
    # The bucket loop sets a data-sized shuffle width per bucket; that is a
    # session-global conf, so the caller's value (or its absence) comes back
    # on every exit path, the injected-failure raise of the resume tests too.
    with scoped_conf(spark.conf, "spark.sql.shuffle.partitions"):
        # --- per-bucket stage graph ---------------------------------------------
        for b in range(cfg.n_buckets):
            if b not in bucket_fps:
                for table in BUCKET_TABLES:
                    store.drop_bucket(table, b)
                ckpt.commit("bucket", b, "empty", 0, 0.0)
                continue
            bm = staged.where(F.col("bucket") == b).drop("bucket")
            # Data-sized shuffle width per bucket (conf.shuffle_partitions_for_bytes):
            # a fixed width spills at 10x data and over-fragments at 0.1x.
            cores = spark.sparkContext.defaultParallelism
            width = shuffle_partitions_for_bytes(store.bucket_size(staging, b)[0], cores)
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            fp = f"{bucket_fps[b]}:{written}"
            if resume and ckpt.is_done("bucket", b, fp):
                continue
            t = time.time()
            for table in BUCKET_TABLES:
                if table not in tables:
                    store.drop_bucket(table, b)
            # Sparse-first dataflow: every shuffle moves only REAL slots; the
            # dense (gap-filled) tiers are generated post-shuffle on the write
            # path, and the kernels densify per conv in numpy. At bench skew
            # the dense tier is ~8x the sparse one — none of it is exchanged.
            # All three caches are registered before any write starts, so
            # their AQE switch and the width above are never changed under
            # a running write. The sparse cache is filled first: writes
            # started at once on an empty cache would each submit a job to
            # fill it.
            sparse = _conv_cache(R.rollup_from_turns(bm, "1m").repartition("conv_id"))
            _fill(sparse)
            hourly = _conv_cache(cascade(sparse, "1m", "1h"))
            daily = _conv_cache(cascade(hourly, "1h", "1d"))
            observed = []
            try:
                with store.bucket_writes(b) as writes:

                    def write(df: DataFrame, table: str, **counts) -> None:
                        """Write one bucket table, its row counts observed
                        on the write (the sparse count of a tier is its
                        non-gap rows). A bucket narrower than the cores
                        starts it to run with the others; a wider one,
                        whose tables each fill the cores, writes it now."""
                        df = _counted(df, observed, **counts)
                        if width < cores:
                            writes.start(df, table)
                        else:
                            store.write_bucket(df, table, b)

                    write(R.gapfill(sparse, "1m"), "tier_1m",
                          rollup_1m_sparse=sparse_count, rollup_1m=count)
                    write(R.gapfill(hourly, "1h"), "tier_1h", rollup_1h=sparse_count)
                    write(R.gapfill(daily, "1d"), "tier_1d", rollup_1d=sparse_count)
                    if cfg.segments:
                        write(change_scores(sparse, "turn_count", CONV_PARAMS,
                                            phenology=cfg.phenology),
                              "segments", segments=count)
                    if cfg.compress:
                        write(encode_chunks(sparse, "1m"), "chunks_1m", chunks_1m=count,
                              chunks_1m_underived=count_underived())
            finally:
                for df in (sparse, hourly, daily):
                    df.unpersist()
            stored = {}
            for table in tables:
                stored[f"bytes_{table}"], stored[f"files_{table}"] = \
                    store.bucket_size(table, b)
            rows = {k: v for o in observed for k, v in o.get.items()}
            m = ckpt.commit("bucket", b, fp, rows.get("rollup_1m", 0),
                            (time.time() - t) * 1000, **rows, **stored)
            metrics.buckets.append(m)
            if fail_after_bucket is not None and b >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {b}")

    metrics.wall_s = time.time() - t0
    return metrics
