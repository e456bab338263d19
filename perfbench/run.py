"""Engine benchmark: ingest and serve workloads.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
(perfbench/gen.py); the engine sees only the generated parquet. Every
output is checked against same-host references (perfbench/reference.py).
The last stdout line is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics from Spark's status
stores. See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import gen  # noqa: E402
import reference as ref  # noqa: E402
import spans  # noqa: E402

N_TURNS = 15_000
MAX_TURNS = 500
N_BUCKETS = 1          # see README: per-bucket fixed cost dominates at this size
SETUP_REPEATS = 3
SAMPLE_CONVS = 3
EVICT_TTL_S = 6 * 3600
MP_WINDOW = 24         # operators.matrixprofile.matrix_profile's default m
# One serve op: a block of requests, each (kind, bin of the range length).
# Every block has the same mix, so block means compare across runs and seeds.
SERVE_MIX = (("tiers", 0), ("fresh", 1), ("tiers", 3), ("chunks", 2))
SERVE_BLOCK = len(SERVE_MIX)
SERVE_BINS = 4
SERVE_WARM_BLOCKS = 1
SERVE_MIN_BLOCKS = 2
INGEST_MIN_OPS = 1
TIER_TABLES = ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m")
KERNEL_SECONDS = 0.3


def cores() -> int:
    """Spark task slots: half the CPUs this process may use (at least one).
    The other half runs what every operation also needs: the JVM's
    compiler and GC threads, the Python driver and the Python workers, so
    the run measures the engine rather than the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def host_memory_mb() -> int:
    """Memory this process may use: the cgroup limit if set, else MemTotal."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            return int(limit) // 2**20
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("cannot read host memory size")


def heap_mb() -> int:
    """A quarter of host memory (the rest stays with the Python workers and
    the page cache), at most 1 GiB: the inputs are about a MB. The heap is
    committed and touched at JVM start (see start_spark): a heap left to
    grow by GC heuristics grew more when the host was slow, and peak RSS
    then varied by a sixth from run to run."""
    return min(1024, host_memory_mb() // 4)


class Bench:
    """State of one benchmark run: paths, Spark session, outcome counters."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_run")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.tracer = None
        self.setup_parts: dict[str, float] = {}

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def record(self, name: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {name}", file=sys.stderr)
        return ok

    def attempt(self, name: str, fn):
        """Run one operation; an exception counts it as failed."""
        try:
            return True, fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.record(name, False)
            return False, None

    # --- session ---------------------------------------------------------
    def start_spark(self, inp: str):
        """Start the session and load the input; returns the transcripts."""
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # every JVM (launcher and driver) keeps its temp and perf files here
        # C1-only JIT: at these input sizes every operation is fixed per-job
        # work, C2 never pays back its compile time within a run, and its
        # compile threads would still be busy during the timed operations
        os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                           "-XX:TieredStopAtLevel=1")
        from yatsm_spark.conf import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores()}]",
            extra_confs={"spark.driver.memory": f"{heap_mb()}m",
                         "spark.driver.extraJavaOptions":
                             f"-Xms{heap_mb()}m -XX:+AlwaysPreTouch",
                         "spark.local.dir": tmp})
        self.setup_parts["session_s"] = time.perf_counter() - t
        if self.args.trace:
            self.tracer = spans.Tracer(self.spark)
        t = time.perf_counter()
        transcripts = self.spark.read.parquet(inp)
        self.setup_parts["load_s"] = time.perf_counter() - t
        return transcripts

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for every child process."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = spans.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.time() + 60
        while time.time() < deadline and any(os.path.exists(f"/proc/{k}") and
                                             _alive(k) for k in kids):
            time.sleep(0.2)
        self.spark = None

    # --- shared set-up -----------------------------------------------------
    def prepare_input(self):
        """Generate and write the seeded input SETUP_REPEATS times (the
        median is the input part of setup_s); returns (table, path)."""
        walls = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            table = gen.generate(N_TURNS, MAX_TURNS, self.args.seed)
            path = self.path(f"input{i}")
            gen.write(table, path)
            walls.append(time.perf_counter() - t)
        self.setup_parts["input_s"] = spans.median(walls)
        return table, path

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def tier_bytes(workdir: str) -> int:
    return sum(dir_bytes(os.path.join(workdir, t)) for t in TIER_TABLES)


# --- checks ------------------------------------------------------------------
def check_tiers(b: Bench, workdir: str, turns, refs) -> bool:
    return all([b.record(f"tier_{t} == direct rollup",
                         ref.same(ref.canonical(ref.read_table(
                             os.path.join(workdir, f"tier_{t}")), turns), refs[t]))
                for t in ("1m", "1h", "1d")])


def check_decode(b: Bench, workdir: str, turns, refs) -> None:
    from yatsm_spark.operators.codec import decode_chunks

    chunks = b.spark.read.parquet(os.path.join(workdir, "chunks_1m")).drop("bucket")
    ok, dec = b.attempt("decode_chunks", lambda: decode_chunks(chunks).toArrow())
    if ok:
        b.record("decode_chunks(chunks) == tier_1m",
                 ref.same(ref.canonical(dec, turns), refs["1m"]))


def sample_codes(turns, seed: int) -> list[int]:
    """The longest conversation plus seeded others."""
    counts = np.bincount(turns.conv)
    rng = np.random.default_rng([seed, 7])
    others = rng.choice(len(counts), size=min(SAMPLE_CONVS, len(counts)), replace=False)
    return sorted({int(np.argmax(counts)), *map(int, others)})[:SAMPLE_CONVS + 1]


def check_segments(b: Bench, workdir: str, turns, refs, codes) -> None:
    from yatsm_spark.kernel.ccdc import ccdc_fit
    from yatsm_spark.operators.changescore import CONV_PARAMS

    segs = ref.read_table(os.path.join(workdir, "segments")).to_pandas()
    for c in codes:
        slots, y = ref.series(refs["1m"], c)
        res = ccdc_fit(slots / 86400.0, y.astype(np.float64), CONV_PARAMS)
        got = segs[segs.conv_id == turns.conv_ids[c]].sort_values("segment_id")
        ok = (len(got) == len(res.segments) and all(
            int(g.n_obs) == s.n_obs and float(g.rmse) == float(s.rmse[0])
            and float(g.magnitude) == float(s.magnitude[0])
            and np.array_equal(np.asarray(g.coef, float), s.coef[0])
            for g, s in zip(got.itertuples(), res.segments)))
        b.record(f"segments of {turns.conv_ids[c]} == ccdc_fit twin", ok)


# --- tracing of Engine.run -----------------------------------------------------
@contextlib.contextmanager
def traced_pipeline(tracer: spans.Tracer, written: dict):
    """Tag the jobs of each pipeline layer with its own job group.

    run_pipeline builds each layer's DataFrame and executes it right away,
    so a group set when the layer function is called covers the jobs that
    run it. write_bucket keeps the current group and records its span and
    the bytes it wrote."""
    import yatsm_spark.pipeline as P
    from yatsm_spark.operators import rollup as R
    from yatsm_spark.sources.storage import ParquetStorage

    def sticky(layer, fn):
        def wrapped(*a, **k):
            tracer.enter(layer)
            return fn(*a, **k)
        return wrapped

    orig_write = ParquetStorage.write_bucket

    def write_bucket(self, df, table, bucket):
        with tracer.span("sources.storage.write_bucket"):
            orig_write(self, df, table, bucket)
        written[table] = written.get(table, 0) + dir_bytes(
            os.path.join(self.path(table), f"bucket={bucket}"))

    patches = [(P, "_input_fingerprint", "pipeline.run_pipeline"),
               (P, "with_measures", "ingest.with_measures"),
               (R, "rollup_from_turns", "operators.rollup.rollup_from_turns"),
               (R, "gapfill", "operators.rollup.gapfill"),
               (P, "cascade", "operators.cascade.cascade"),
               (P, "change_scores", "operators.changescore.change_scores"),
               (P, "encode_chunks", "operators.codec.encode_chunks")]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    try:
        for mod, name, layer in patches:
            setattr(mod, name, sticky(layer, getattr(mod, name)))
        ParquetStorage.write_bucket = write_bucket
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
        ParquetStorage.write_bucket = orig_write
        tracer.clear()


def pipeline_layers(b: Bench, traced_walls, workdirs, written) -> dict:
    tr, n = b.tracer, max(len(traced_walls), 1)
    layers = ["pipeline.run_pipeline", "ingest.with_measures",
              "operators.rollup.rollup_from_turns", "operators.rollup.gapfill",
              "operators.cascade.cascade", "operators.changescore.change_scores",
              "operators.codec.encode_chunks"]
    st = {l: tr.layer(l) for l in layers}
    buckets, manifests = [], []
    for wd in workdirs:
        mdir = os.path.join(wd, "_manifests")
        for f in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else ():
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            if m["stage"] == "bucket":
                buckets.append(m["wall_ms"] / 1e3)
                manifests.append(m)
    sparse = sum(m.get("rollup_1m_sparse", 0) for m in manifests)
    dense = sum(m.get("rollup_1m", 0) for m in manifests)
    busy = sum(s["busy_s"] for s in st.values())
    py_in = lambda l: tr.sql_metric(tr.groups.get(l, []), "InPandas",
                                    "data sent to Python workers") / 2**20 / n
    out = {
        "pipeline.run_pipeline.bucket_p50_s": spans.median(buckets),
        "pipeline.run_pipeline.bucket_max_s": max(buckets, default=0.0),
        "pipeline.run_pipeline.jobs": sum(s["jobs"] for s in st.values()) / n,
        "pipeline.run_pipeline.driver_gap_s": (sum(traced_walls) - busy) / n,
        "ingest.with_measures.input_mb": st["ingest.with_measures"]["input_mb"] / n,
        "ingest.with_measures.busy_s": st["ingest.with_measures"]["busy_s"] / n,
        "operators.rollup.rollup_from_turns.rows_out": sparse / n,
        "operators.rollup.gapfill.gap_rows_per_real_row": (dense - sparse) / max(sparse, 1),
        "operators.changescore.change_scores.python_in_mb":
            py_in("operators.changescore.change_scores"),
        "operators.changescore.change_scores.task_max_over_median":
            st["operators.changescore.change_scores"]["task_max_over_median"],
        "operators.codec.encode_chunks.python_in_mb": py_in("operators.codec.encode_chunks"),
        "operators.codec.encode_chunks.bytes_out_mb": written.get("chunks_1m", 0) / 2**20 / n,
        "sources.storage.write_bucket.busy_s":
            sum(tr.walls.get("sources.storage.write_bucket", [])) / n,
        "sources.storage.write_bucket.mb_written": sum(written.values()) / 2**20 / n,
    }
    for layer, keys in (("operators.rollup.rollup_from_turns", ("busy_s", "cpu_s", "shuffle_write_mb")),
                        ("operators.rollup.gapfill", ("busy_s",)),
                        ("operators.cascade.cascade", ("busy_s", "shuffle_write_mb")),
                        ("operators.changescore.change_scores", ("busy_s", "cpu_s")),
                        ("operators.codec.encode_chunks", ("busy_s",))):
        for k in keys:
            out[f"{layer}.{k}"] = st[layer][k] / n
    return out


def kernel_layers(turns, refs, codes) -> dict:
    """Direct driver calls of the CCDC and Gorilla kernels on seeded series."""
    from yatsm_spark.kernel import gorilla_vec as G
    from yatsm_spark.kernel.ccdc import ccdc_fit
    from yatsm_spark.operators.changescore import CONV_PARAMS

    series = [ref.series(refs["1m"], c) for c in codes]
    points, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < KERNEL_SECONDS:
        for slots, y in series:
            ccdc_fit(slots / 86400.0, y.astype(np.float64), CONV_PARAMS)
            points += len(y)
    ccdc_us = (time.perf_counter() - t0) / max(points, 1) * 1e6

    vals = refs["1m"]["turn_count"]
    mb = vals.nbytes / 2**20

    def rate(fn):
        n, t = 0, time.perf_counter()
        while time.perf_counter() - t < KERNEL_SECONDS:
            fn()
            n += 1
        return n * mb / (time.perf_counter() - t)

    blob = G.encode_ints_block(vals)
    return {"kernel.ccdc.ccdc_fit.us_per_point": ccdc_us,
            "kernel.gorilla_vec.encode_mb_per_s": rate(lambda: G.encode_ints_block(vals)),
            "kernel.gorilla_vec.decode_mb_per_s": rate(lambda: G.decode_ints_block(blob))}


# --- workloads -----------------------------------------------------------------
def materialize(b: Bench, transcripts, turns, refs) -> str:
    """Untimed Engine.run writing the tiers and chunks serve reads (part of
    setup; no segments, serve never reads them), checked."""
    from yatsm_spark.api import Engine

    wd = b.path("tiers")
    t = time.perf_counter()
    ok, _ = b.attempt("Engine.run (setup)", lambda: Engine(b.spark, transcripts).run(
        wd, n_buckets=N_BUCKETS, segments=False))
    b.setup_parts["materialize_s"] = time.perf_counter() - t
    if ok:
        check_tiers(b, wd, turns, refs)
    return wd


def window(b: Bench, min_ops: int, multiple: int = 1):
    """Yield op indices until --seconds have elapsed, at least min_ops ran
    and the count is a multiple of ``multiple``."""
    t0, i = time.perf_counter(), 0
    while i < min_ops or i % multiple or time.perf_counter() - t0 < b.args.seconds:
        yield i
        i += 1


def run_ingest(b: Bench, transcripts, turns, refs) -> dict:
    from yatsm_spark.api import Engine

    eng = Engine(b.spark, transcripts)
    t = time.perf_counter()
    b.attempt("Engine.run (warm-up)", lambda: eng.run(b.path("warmup"), n_buckets=N_BUCKETS))
    b.setup_parts["warmup_s"] = time.perf_counter() - t
    codes = sample_codes(turns, b.args.seed)
    nbytes = 0
    walls = {False: [], True: []}
    traced_dirs, written = [], {}
    for i in window(b, min_ops=2 if b.tracer else INGEST_MIN_OPS):
        traced = bool(b.tracer) and i % 2 == 1
        wd = b.path(f"ingest{i}")
        ctx = traced_pipeline(b.tracer, written) if traced else contextlib.nullcontext()
        t = time.perf_counter()
        with ctx:
            ok, _ = b.attempt("Engine.run", lambda: eng.run(wd, n_buckets=N_BUCKETS))
        wall = time.perf_counter() - t
        if ok and check_tiers(b, wd, turns, refs):
            walls[traced].append(wall)
            nbytes = tier_bytes(wd)
            if i == 0:
                check_decode(b, wd, turns, refs)
                check_segments(b, wd, turns, refs, codes)
        if traced:
            traced_dirs.append(wd)
        else:
            shutil.rmtree(wd)

    p50 = spans.median(walls[False])
    human = {"ingest_turns_per_s": (turns.ts_us.size / p50 if p50 else 0.0, "turns/s"),
             "ingest_bytes_per_turn": (nbytes / turns.ts_us.size, "B/turn")}
    if not b.tracer:
        return dict(op_p50_ms=p50 * 1e3, bytes_per_turn=nbytes / turns.ts_us.size,
                    human=human, walls=walls)
    layers = pipeline_layers(b, walls[True], traced_dirs, written)
    layers.update(kernel_layers(turns, refs, codes))
    totals = b.tracer.group_stats([g for gs in b.tracer.groups.values() for g in gs])
    return dict(layers=layers, traced=walls[True], totals=totals, human=human, walls=walls,
                op_p50_ms=p50 * 1e3)


def serve_requests(seed: int):
    """Endless seeded request stream: (kind, qs, qe, watermark).

    Requests come in blocks of SERVE_MIX: each slot fixes the kind and
    which of SERVE_BINS log-spaced bins of [1 h, 30 d] the range length
    falls in; the seed picks the exact length, the start and the
    watermark."""
    rng = np.random.default_rng([seed, 1])
    lo, hi = math.log(3600), math.log(30 * 86400)
    i = 0
    while True:
        kind, s = SERVE_MIX[i % SERVE_BLOCK]
        u = (s + rng.uniform()) / SERVE_BINS
        length = int(math.exp(lo + u * (hi - lo))) // 60 * 60
        qs = gen.T0 + int(rng.uniform(0, gen.WINDOW_S + 2 * 86400 - length)) // 60 * 60
        wm = qs + int(rng.uniform(0.5, 1.0) * length) if kind == "fresh" else None
        yield kind, qs, qs + length, wm
        i += 1


def run_serve(b: Bench, transcripts, turns, refs) -> dict:
    from yatsm_spark.ingest import with_measures
    from yatsm_spark.operators.retention import evict
    from yatsm_spark.operators.routing import route_range

    wd = materialize(b, transcripts, turns, refs)
    nbytes = tier_bytes(wd)
    read = lambda t: b.spark.read.parquet(os.path.join(wd, t)).drop("bucket")
    t = time.perf_counter()
    evicted = os.path.join(wd, "tier_1m_evicted")
    evict(read("tier_1m"), "1m", "1h", EVICT_TTL_S).write.parquet(evicted)
    live = {k: read(f"tier_{k}") for k in ("1m", "1h", "1d")}
    trimmed = dict(live, **{"1m": b.spark.read.parquet(evicted)})
    chunks = read("chunks_1m")
    fresh = with_measures(transcripts)
    b.setup_parts["evict_s"] = time.perf_counter() - t

    def request(kind, qs, qe, wm):
        if kind == "chunks":
            return route_range(trimmed, qs, qe, chunks=chunks)
        return route_range(live, qs, qe, fresh_measures=fresh, watermark=wm)

    stream = serve_requests(b.args.seed)
    warm = serve_requests(b.args.seed + 1_000_003)
    t = time.perf_counter()
    for _ in range(SERVE_WARM_BLOCKS * SERVE_BLOCK):
        kind, qs, qe, wm = next(warm)
        ok, rows = b.attempt("route_range (warm-up)", lambda: request(kind, qs, qe, wm).collect())
        if ok:
            b.record("warm-up response == raw aggregate",
                     ref.rows_by_conv(rows) == ref.range_reference(turns, qs, qe))
    b.setup_parts["warmup_s"] = time.perf_counter() - t

    lat, plan, exe = {False: [], True: []}, [], []
    blocks, block = {False: [], True: []}, []
    groups, chunk_groups, result_rows = [], [], 0
    for i in window(b, min_ops=SERVE_MIN_BLOCKS * SERVE_BLOCK, multiple=SERVE_BLOCK):
        kind, qs, qe, wm = next(stream)
        traced = bool(b.tracer) and (i // SERVE_BLOCK) % 2 == 1
        if traced:
            g = b.tracer.enter("operators.routing.route_range")
            groups.append(g)
            if kind == "chunks":
                chunk_groups.append(g)
        t0 = time.perf_counter()
        ok, df = b.attempt("route_range", lambda: request(kind, qs, qe, wm))
        t1 = time.perf_counter()
        if ok:
            ok, rows = b.attempt("collect", df.collect)
        t2 = time.perf_counter()
        if traced:
            b.tracer.clear()
        if ok and b.record(f"response {kind} [{qs}, {qe}) == raw aggregate",
                           ref.rows_by_conv(rows) == ref.range_reference(turns, qs, qe)):
            lat[traced].append(t2 - t0)
            block.append(t2 - t0)
            if traced:
                plan.append(t1 - t0)
                exe.append(t2 - t1)
                result_rows += len(rows)
        if i % SERVE_BLOCK == SERVE_BLOCK - 1:
            if len(block) == SERVE_BLOCK:
                blocks[traced].append(sum(block) / SERVE_BLOCK)
            block = []

    n = len(lat[False])
    human = {"serve_p50_ms": (spans.median(lat[False]) * 1e3, f"ms (n={n} requests)")}
    if n >= 100:
        human["serve_p90_ms"] = (float(np.percentile(lat[False], 90)) * 1e3, "ms")
    if not b.tracer:
        return dict(op_p50_ms=spans.median(blocks[False]) * 1e3,
                    bytes_per_turn=nbytes / turns.ts_us.size, human=human, walls=blocks)
    tr, k = b.tracer, max(len(groups), 1)
    st = tr.group_stats(groups)
    kc = max(len(chunk_groups), 1)
    layers = {
        "operators.routing.route_range.plan_ms": spans.median(plan) * 1e3,
        "operators.routing.route_range.exec_ms": spans.median(exe) * 1e3,
        "operators.routing.route_range.jobs_per_req": st["jobs"] / k,
        "operators.routing.route_range.tasks_per_req": st["tasks"] / k,
        "operators.routing.route_range.input_rows_per_result_row":
            st["input_rows"] / max(result_rows, 1),
        "operators.codec.decode_chunks.busy_ms":
            tr.sql_metric(chunk_groups, "MapInPandas", "time to run Python workers") * 1e3 / kc,
        "operators.codec.decode_chunks.rows_per_req":
            tr.sql_metric(chunk_groups, "MapInPandas", "number of output rows") / kc,
    }
    layers.update(kernel_layers(turns, refs, sample_codes(turns, b.args.seed)))
    more, lines = analyze_layers(b, wd, turns, refs)
    layers.update(more)
    human.update(lines)
    return dict(layers=layers, traced=lat[True], totals=st, human=human, walls=blocks,
                op_p50_ms=spans.median(blocks[False]) * 1e3)


def analyze_ops():
    from yatsm_spark.operators.changepoint import pelt_changepoints
    from yatsm_spark.operators.kalman import kalman_smooth
    from yatsm_spark.operators.matrixprofile import matrix_profile
    from yatsm_spark.operators.tsfuncs import rolling_anomaly

    return [("operators.tsfuncs.rolling_anomaly", "1m",
             lambda t: rolling_anomaly(t, "turn_count")),
            ("operators.changepoint.pelt_changepoints", "1h",
             lambda t: pelt_changepoints(t, "turn_count")),
            ("operators.matrixprofile.matrix_profile", "1h",
             lambda t: matrix_profile(t, "turn_count", m=MP_WINDOW)),
            ("operators.kalman.kalman_smooth", "1h",
             lambda t: kalman_smooth(t, "turn_count"))]


def analyze_twin(name: str, x: np.ndarray, got) -> bool:
    """Does one conv's operator output equal its numpy twin?"""
    from yatsm_spark.kernel.kalman import kalman_local_level
    from yatsm_spark.kernel.matrixprofile import matrix_profile_core
    from yatsm_spark.kernel.pelt import pelt_core

    if name.endswith("rolling_anomaly"):
        got = got.sort_values("window_start")
        return [None if v is None or v != v else bool(v) for v in got.is_anomaly] \
            == ref.anomaly_flags(x)
    if name.endswith("pelt_changepoints"):
        return np.array_equal(got.sort_values("cp_ord").idx.to_numpy(np.int64),
                              pelt_core(x, None, 2))
    if name.endswith("matrix_profile"):
        mp, mpi = matrix_profile_core(x, MP_WINDOW)
        got = got.sort_values("idx")
        return (np.array_equal(got.mp.to_numpy(np.float64, na_value=np.nan), mp,
                               equal_nan=True)
                and np.array_equal(got.mp_idx.to_numpy(np.float64, na_value=-1), mpi))
    level, var, smooth = kalman_local_level(x.astype(np.float64), q=1.0, r=4.0)
    got = got.sort_values("window_start")
    return all(np.array_equal(got[c].to_numpy(np.float64), v) for c, v in
               (("kalman_level", level), ("kalman_var", var), ("kalman_smooth", smooth)))


def analyze_layers(b: Bench, workdir: str, turns, refs) -> tuple[dict, dict]:
    """One traced pass of the per-series operators over the stored tiers,
    each sunk to noop, after a warm-up on sampled convs checked against
    the numpy twins. Returns (per-layer metrics, human-readable lines)."""
    from pyspark.sql import functions as F

    tiers = {k: b.spark.read.parquet(os.path.join(workdir, f"tier_{k}"))
             .select("conv_id", "window_start", "turn_count") for k in ("1m", "1h")}
    codes = sample_codes(turns, b.args.seed)
    ids = [str(turns.conv_ids[c]) for c in codes]
    for name, tier, op in analyze_ops():
        ok, pdf = b.attempt(name, lambda: op(tiers[tier].where(F.col("conv_id").isin(ids)))
                            .toPandas())
        for c, cid in zip(codes, ids) if ok else ():
            b.record(f"{name} on {cid} == numpy twin",
                     analyze_twin(name, ref.series(refs[tier], c)[1], pdf[pdf.conv_id == cid]))

    tr, layers, wall = b.tracer, {}, 0.0
    for name, tier, op in analyze_ops():
        tr.enter(name)
        t = time.perf_counter()
        ok, _ = b.attempt(name, lambda: op(tiers[tier]).write.format("noop")
                          .mode("overwrite").save())
        wall += time.perf_counter() - t
        tr.clear()
        if not ok:
            continue
        b.record(name, True)
        st = tr.layer(name)
        layers[f"{name}.busy_s"] = st["busy_s"]
        layers[f"{name}.cpu_s"] = st["cpu_s"]
        layers[f"{name}.python_in_mb"] = tr.sql_metric(
            tr.groups[name], "InPandas", "data sent to Python workers") / 2**20
        layers[f"{name}.task_max_over_median"] = st["task_max_over_median"]
    rate = len(turns.conv_ids) * len(analyze_ops()) / max(wall, 1e-9)
    return layers, {"analyze_series_per_s": (rate, "series/s (traced pass)")}


WORKLOADS = {"ingest": run_ingest, "serve": run_serve}


def declared(kind: str) -> dict[str, str]:
    """{metric name: unit} of one metric list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "yatsm_spark", "pipeline.py")):
        print("perfbench: no yatsm_spark package next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    b = Bench(args)
    with spans.RssSampler() as rss:
        try:
            table, inp = b.prepare_input()
            turns = ref.Turns(table)
            refs = {t: ref.tier_reference(turns, t) for t in ("1m", "1h", "1d")}
            transcripts = b.start_spark(inp)
            res = WORKLOADS[args.workload](b, transcripts, turns, refs)
        finally:
            b.stop_spark()
    shutil.rmtree(b.work, ignore_errors=True)

    print("perfbench: setup " + " ".join(f"{k}={v:.2f}" for k, v in b.setup_parts.items()),
          file=sys.stderr)
    print("perfbench: timed op walls (s) " + " ".join(f"{w:.2f}" for w in res["walls"][False]),
          file=sys.stderr)
    human = dict(res["human"], op_p50_ms=(res["op_p50_ms"], "ms"),
                 setup_s=(b.setup_s(), "s"), peak_rss_mb=(rss.peak_mb, "MB"),
                 failed_share=(b.failed / max(b.attempted, 1), "ratio"))
    for k, (v, unit) in human.items():
        print(f"{args.workload} {k} {v:.6g} {unit}")
    if args.trace:
        cpu_wall = sum(res["traced"]) * cores()
        layers = dict(res["layers"], op_p50_ms=res["op_p50_ms"])
        totals = res["totals"]
        layers["spark.cpu_ratio"] = totals["cpu_s"] / cpu_wall if cpu_wall else 0.0
        layers["spark.fetch_wait_s"] = totals["fetch_wait_s"]
        layers["spark.spill_mb"] = totals["spill_mb"]
        base = spans.median(res["walls"][False])
        layers["trace.overhead_pct"] = (
            (spans.median(res["walls"][True]) - base) / base * 100 if base else 0.0)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in declared("per_layer").items()}
    else:
        values = dict(setup_s=b.setup_s(), ingest_bytes_per_turn=res["bytes_per_turn"],
                      peak_rss_mb=rss.peak_mb)
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in declared("end_to_end").items()}
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
