"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan + skew-join splitting),
Arrow on (every Python crossing is vectorized), shuffle partitions at 4x
cores for local runs — on a real cluster this is overridden by
``spark-submit --conf`` and AQE coalescing makes the initial number soft.
Where the input's size is known (the pipeline's buckets, the bench tools)
the width is set from its bytes instead: ``shuffle_partitions_for_bytes``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession

#: Confs that matter at 100 TB and cost nothing locally.
ENGINE_CONFS = {
    # Arrow transfer for every pandas UDF / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime coalescing, skew-join splitting, join re-planning.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Timestamps are UTC end-to-end; rollup windows must not depend on the
    # driver's locale.
    "spark.sql.session.timeZone": "UTC",
    # Parquet scan batching.
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Small splits: 16m gives ~4-5 task waves per 32 cores at sf0.1, hiding
    # straggler splits (zipf text skew makes 64m splits uneven — measured
    # 33s -> 25s on the 1m rollup). Cluster deployments override via
    # submit conf; AQE coalescing keeps downstream stages right-sized.
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    # ANSI overflow-checked arithmetic costs ~2.4x on the hot aggregation
    # path (measured: full 1m rollup 94s -> 39s at sf0.1/local[32]). Off,
    # a LONG sum wraps silently: the integral moments stay exact only under
    # the overflow precondition stated at operators/rollup.py::MOMENTS.
    "spark.sql.ansi.enabled": "false",
    # Keep stdout clean (bench.py must emit exactly one JSON line).
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` computed once and its lineage cut: the engine's one
    ``localCheckpoint``. Call sites look it up through this module
    (``conf.materialize``), so replacing this one attribute reaches every
    site; the plan contract (tests/test_plans.py) replaces it with the
    identity to see the plan behind each checkpoint."""
    return df.localCheckpoint(eager=eager)


@contextmanager
def scoped_conf(conf, key: str, value: str | None = None):
    """Session conf ``key`` set to ``value`` (if given) for the block, then
    put back: unset again if it was unset on entry."""
    prev = conf.get(key, None)
    if value is not None:
        conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


#: Smallest input worth a shuffle partition of its own: the default of
#: Spark's ``spark.sql.adaptive.coalescePartitions.minPartitionSize``.
MIN_PARTITION_BYTES = 1 << 20


def shuffle_partitions_for_bytes(n_bytes: int, cores: int) -> int:
    """Size the shuffle width to the DATA: one partition per
    ``MIN_PARTITION_BYTES`` up to the core count, and ~256 MB per partition
    beyond that.

    Measured A/B at local[32] (BENCH/BASELINE_8_32.md round-3 addendum):
    78M turns (2.6 GB) runs 28% faster at 32 partitions than 128 (fewer,
    fuller Arrow batches and sort runs), while 791M turns (27 GB) runs 36%
    faster at 128 than 32 (a 32-wide reduce spills GB-scale sorts). One
    constant cannot serve both; ~256 MB of input per reduce partition
    lands on the measured winner at each scale and extrapolates to the
    cluster rule of thumb (100 TB -> ~400k partitions across 1000
    executors). The target is calibrated on snappy parquet bytes (the
    transcripts and the pipeline's staged measures).

    Below ``cores`` MiB the width is not floored at the core count: the
    pipeline's conv cache is planned with AQE off, so nothing coalesces
    its partitions at runtime, and each partition becomes one file per
    bucket table. A bucket of a few hundred KB gets one task per table
    (the pipeline runs the tables' writes concurrently instead).
    """
    min_partitions = -(-n_bytes // MIN_PARTITION_BYTES)  # ceil
    return max(1, min(cores, min_partitions), min(32_768, n_bytes // (256 << 20)))


def set_shuffle_width_for(df: DataFrame) -> int:
    """Set ``df``'s session ``spark.sql.shuffle.partitions`` from the summed
    size of the local files ``df`` reads, at the session's default
    parallelism, and return the width."""
    spark = df.sparkSession
    n_bytes = sum(os.path.getsize(url2pathname(urlparse(f).path))
                  for f in df.inputFiles())
    width = shuffle_partitions_for_bytes(n_bytes, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    return width


def host_memory_mb() -> int | None:
    """Memory this process may use: the smaller of the cgroup limit (v2 or
    v1; an unset limit reads as "max" or a huge number) and the physical
    memory. None where neither can be read."""
    limits = []
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                v = f.read().strip()
        except OSError:
            continue
        if v.isdigit():
            limits.append(int(v) >> 20)
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20)
    except (AttributeError, OSError, ValueError):
        pass
    return min(limits, default=None)


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of host memory: in local
    mode the driver JVM is the executor, and the other half stays with the
    Python workers and the page cache. A fixed heap larger than the host
    gets the JVM OOM-killed."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = host_memory_mb()
    return f"{max(1024, mb // 2)}m" if mb else "4g"


def get_spark(
    app_name: str = "yatsm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when no
    cluster master is supplied — on a real deployment this function is called
    without master under ``spark-submit --py-files``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name).master(master)
    confs = dict(ENGINE_CONFS)
    # Python workers (mapInPandas/applyInPandas) must import this package
    # regardless of the consumer's cwd: driver-side sys.path edits don't
    # reach worker processes, so export the repo root on PYTHONPATH — env
    # for same-box workers (must happen before the JVM starts), executorEnv
    # for local-cluster executors. On a real cluster this is superseded by
    # `spark-submit --py-files yatsm_spark.zip`.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if repo not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo + (os.pathsep + prev if prev else "")
    confs.setdefault("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    # Local single-JVM mode: driver IS the executor — size the heap from the
    # host (must be set before the JVM starts; no-op afterwards).
    confs.setdefault("spark.driver.memory", default_driver_memory())
    confs.setdefault("spark.driver.maxResultSize", "8g")
    if shuffle_partitions is None:
        # Local mode: 4x cores — big shuffles want more, smaller slices
        # spill less, and AQE coalesces the small ones back down for free.
        # Cluster mode: leave to submit conf / AQE.
        n = master.split("[")[-1].rstrip("]") if "[" in master else "200"
        cores = (os.cpu_count() or 1) if n == "*" else int(n) if n.isdigit() else 50
        shuffle_partitions = 4 * cores
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
