"""Benchmark harness — prints ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     BENCH_REPS         (default 1).

Headline metric: turns rolled up per second through the full graft path
(measures -> 1m rollup -> gap-fill -> 1h -> 1d cascade), plus per-query
wall times for the other engine operators on the driver tables. Writes
sink to the `noop` format so we measure engine compute, not local-disk
parquet encode.

BENCH_HEADLINE_ONLY=1 stops after the headline; BENCH_FULL_JOB=1 times the
whole job (tiers + change scores + chunks) instead. Every mode prints the
same keys in the same order.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_REPS", "1"))


def sink(df):
    df.write.format("noop").mode("overwrite").save()


def host_memory_probe():
    """Same-run host-health evidence, embedded in the bench JSON: the
    single-threaded effective bandwidth of one numpy fma pass over a
    cache-resident (8 MB) and a DRAM-resident (240 MB) array, median of
    3. On a healthy box both sit in the GB/s range; this sandbox's
    post-reboot host intermittently collapses the DRAM side ~50x
    (measured 0.06-0.25 GB/s vs 10-15 GB/s cache-resident, matmul and
    multi-threaded scans unaffected) — which depresses every
    single-thread DRAM-streaming phase (python workers, Arrow batches,
    parquet encode) through no fault of the plan. Recording it per run
    makes bench numbers interpretable after the fact."""
    import statistics

    import numpy as np

    def bw(n):
        x = np.random.rand(n)
        outs = []
        for _ in range(3):
            t0 = time.time()
            _ = x * 1.5 + 2.0
            outs.append(n * 8 * 2 / (time.time() - t0) / 1e9)
        return round(statistics.median(outs), 2)

    bw(1_000_000)  # throwaway: page-fault/allocator warm-up biases pass 1
    return {"host_cache_gbs": bw(1_000_000),
            "host_dram_gbs": bw(30_000_000)}


#: Probe gate (round-5 protocol): a timed session only counts as clean
#: when the host probe is healthy BOTH before and after the timed block.
#: Threshold per the observed bimodality: healthy cache-resident passes
#: sit at 10-15 GB/s, degraded ones under ~2; 8 splits them cleanly.
#: BENCH_PROBE_MIN_GBS overrides; BENCH_PROBE_GATE=0 disables waiting.
PROBE_MIN_GBS = float(os.environ.get("BENCH_PROBE_MIN_GBS", "8"))


def gated_probe(label):
    """Run the host probe; if degraded, wait and retry (up to 3x30s)
    so a transient host-weather dip doesn't poison a timed session.
    Returns (probe_dict, healthy_bool)."""
    tries = 1 if os.environ.get("BENCH_PROBE_GATE") == "0" else 4
    probe = host_memory_probe()
    for _ in range(tries - 1):
        if probe["host_cache_gbs"] >= PROBE_MIN_GBS:
            break
        print(f"# probe[{label}] degraded: {probe} — waiting 30s",
              file=sys.stderr)
        time.sleep(30)
        probe = host_memory_probe()
    return probe, probe["host_cache_gbs"] >= PROBE_MIN_GBS


def main():
    from yatsm_spark.conf import get_spark, set_shuffle_width_for
    from yatsm_spark.ingest import with_measures
    from yatsm_spark.operators.cascade import cascade
    from yatsm_spark.operators.changescore import change_scores
    from yatsm_spark.operators.codec import encode_chunks
    from yatsm_spark.operators.rollup import gapfill, rollup_from_turns
    from yatsm_spark.synth import transcripts_for_sf

    # shuffle partitions: engine default (4x cores + AQE coalescing).
    # Pinning this to the core count looked harmless at sf0.1 but made the
    # tier phase superlinear at sf1.0 (791M turns): 32 reduce partitions
    # meant ~GB-scale sort spills per partition. 4x cores keeps partitions
    # spill-free as data grows while AQE coalesces them away when small.
    # BENCH_SHUFFLE_PARTITIONS: explicit override for A/B probes.
    sp = os.environ.get("BENCH_SHUFFLE_PARTITIONS")
    spark = get_spark(app_name="yatsm-spark-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(sp) if sp else None)

    # Materialize bench transcripts once (deterministic; excluded from timing).
    tx = transcripts_for_sf(spark, SF_DIR, data_root=os.path.join(REPO, "data"))
    n_turns = tx.count()

    if not sp:
        # Data-sized shuffle width (see conf.shuffle_partitions_for_bytes):
        # runtime conf, so it can follow the input measured AFTER session
        # startup. 2.6 GB/sf0.1 -> 32 (= cores), 27 GB/sf1.0 -> ~108.
        set_shuffle_width_for(tx)

    queries: dict[str, float] = {}

    def timed(name, fn):
        best = None
        for _ in range(REPS):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)
        return best

    measures = with_measures(tx)

    # headline: full rollup path (the north-star metric's denominator).
    # Each tier is persisted then reused — the production shape (tiers are
    # materialized tables; the cascade reads the finer tier, never raw).
    from pyspark import StorageLevel

    # BENCH_WORK_DIR: where tier tables materialize. On a real cluster the
    # tier writes land on DISTRIBUTED storage whose bandwidth scales with
    # the executor count; a single local disk does not scale with threads,
    # so a scaling run points this at tmpfs to emulate storage that keeps
    # up — otherwise the N->4N efficiency measures the disk, not the
    # engine.
    work = os.environ.get("BENCH_WORK_DIR", os.path.join(REPO, "bench_work"))

    def rollup_path():
        # Sparse-first (see pipeline.py): only real slots are shuffled; the
        # sparse tiers materialize to parquet exactly as in production
        # (tiers ARE tables) — predictable columnar IO instead of
        # MemoryStore caching, which contends badly at high thread counts.
        rollup_from_turns(measures, "1m").write.mode("overwrite") \
            .parquet(f"{work}/sparse_1m")
        sparse = spark.read.parquet(f"{work}/sparse_1m")
        sink(gapfill(sparse, "1m"))
        cascade(sparse, "1m", "1h").write.mode("overwrite").parquet(f"{work}/sparse_1h")
        h1 = spark.read.parquet(f"{work}/sparse_1h")
        sink(gapfill(h1, "1h"))
        sink(gapfill(cascade(h1, "1h", "1d"), "1d"))

    # JIT warm-up (untimed, disclosed as jit_warmup_s in the JSON): the
    # rebooted host charges ~90-130 s of per-JVM C2/codegen warm-up on
    # the first pass through the rollup path — measured 126 s first pass
    # vs 32.5 s second pass IN THE SAME JVM with a hot page cache, while
    # a trivial parquet scan is bit-stable across the reboot (so it is
    # JIT, not IO or the engine). The scaling protocol
    # (BENCH/BASELINE_8_32.md) has always timed the min of 2 in-JVM
    # passes for the same reason; running the headline path once untimed
    # makes every timed number steady-state. BENCH_NO_WARMUP=1 restores
    # cold-path timing.
    probe_pre, pre_ok = gated_probe("pre")

    jit_warmup_s = 0.0
    if not os.environ.get("BENCH_NO_WARMUP"):
        _t0 = time.time()
        rollup_path()
        jit_warmup_s = round(time.time() - _t0, 3)

    def emit(metric, wall):
        """The one JSON line every mode prints."""
        probe_post = host_memory_probe()
        print(json.dumps({
            "metric": metric,
            "value": round(wall, 3),
            "unit": "sec",
            "queries": queries,
            "sf": SF_DIR,
            "cpus": CPUS,
            "n_turns": n_turns,
            "turns_rolled_per_sec": round(n_turns / wall if wall > 0 else 0.0, 1),
            "jit_warmup_s": jit_warmup_s,
            "probe_pre": probe_pre,
            "probe_post": probe_post,
            "probe_healthy": bool(pre_ok and
                                  probe_post["host_cache_gbs"] >= PROBE_MIN_GBS),
            **probe_pre,
        }))

    headline = timed("rollup_cascade_full", rollup_path)

    if os.environ.get("BENCH_FULL_JOB"):
        # The complete north-star job: tiers + CCDC change scores + Gorilla
        # chunks (this is what "turns rolled up per second" buys you).
        def full_job():
            rollup_path()
            # re-read AFTER the overwrite (file listings are cached per DF)
            sparse = spark.read.parquet(f"{work}/sparse_1m")
            sink(change_scores(sparse))
            sink(encode_chunks(sparse, "1m"))

        emit("engine_job_full_wall", timed("engine_job_full", full_job))
        return

    if os.environ.get("BENCH_HEADLINE_ONLY"):
        emit("rollup_cascade_full_wall", headline)
        return

    timed("rollup_1m_only", lambda: sink(rollup_from_turns(measures, "1m")))
    sparse_cached = rollup_from_turns(measures, "1m").persist(StorageLevel.MEMORY_AND_DISK)
    sparse_cached.count()
    timed("gapfill_from_cached", lambda: sink(gapfill(sparse_cached, "1m")))
    timed("cascade_from_cached_1m", lambda: sink(cascade(sparse_cached, "1m", "1h")))
    timed("segments_ccdc", lambda: sink(change_scores(sparse_cached)))
    timed("gorilla_encode", lambda: sink(encode_chunks(sparse_cached, "1m")))
    sparse_cached.unpersist()

    # CMS-accelerated exact heavy hitters over the FULL bench transcripts
    # (the sketch pre-filter's value shows at volume: the exact-count
    # shuffle carries only plausibly-heavy rows)
    from yatsm_spark.operators.sketches import heavy_hitters

    timed("heavy_hitters_cms",
          lambda: sink(heavy_hitters(tx, ["role"], "conv_id", 600)))

    # driver-table operator spot checks (same code paths as queries())
    import __spark_entry__ as e

    for name in ("tpch_q1", "events_rollup_1m", "order_lineitem_interval",
                 "semdedup", "dup_ngram_spans", "decontaminate_fuzzy",
                 "shuffle_export",
                 "minhash_pairs", "cosine_topk", "simhash", "quality",
                 "bm25_topk", "hll_distinct", "curate_corpus",
                 "pca_project", "pq_adc_topk", "zorder_events",
                 "bloom_join", "tx_asof_tool", "tx_hdr_cascade",
                 "tx_anomaly", "tx_deriv", "tx_acf", "tx_seasonal",
                 "tx_matrix_profile", "tx_pelt", "tx_bursts",
                 "tx_swing", "tx_holtwinters",
                 "gopher_rules", "c4_clean", "para_dedup",
                 "dsir_weights", "tx_periodogram", "tx_kalman"):
        fn = e.queries()[name]
        timed(name, lambda fn=fn: sink(fn(spark, SF_DIR)))

    emit("rollup_cascade_full_wall", headline)


if __name__ == "__main__":
    main()
