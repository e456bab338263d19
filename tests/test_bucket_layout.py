"""Per-bucket physical layout of a pipeline run: the sparse 1m rollup is the
bucket's one conv exchange, every table write inherits its partitioning and
order, each table has at most the bucket's shuffle width of files, and the
tables are zstd parquet (a resume rewrites buckets of the older snappy
format)."""

import json
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from yatsm_spark.pipeline import PipelineConfig, run_pipeline
from yatsm_spark.sources.storage import TIER_FORMAT_VERSION, ParquetStorage
from yatsm_spark.synth import generate_transcripts

TABLES = ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m")


@pytest.fixture(scope="module")
def tx(spark):
    df = generate_transcripts(spark, 30, seed=3, max_turns=1500).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def traced(spark, tx, tmp_path_factory):
    """One run with every bucket write's executed plan and the session
    shuffle width at that write, keyed by (table, bucket)."""
    w = str(tmp_path_factory.mktemp("layout"))
    plans, widths = {}, {}
    orig = ParquetStorage.write_bucket

    def write_bucket(self, df, table, bucket):
        plans[table, bucket] = str(df._jdf.queryExecution().executedPlan())
        widths[table, bucket] = int(spark.conf.get("spark.sql.shuffle.partitions"))
        orig(self, df, table, bucket)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ParquetStorage, "write_bucket", write_bucket)
        run_pipeline(spark, tx, PipelineConfig(workdir=w, n_buckets=2), resume=False)
    assert sorted(plans) == sorted((t, b) for t in TABLES for b in range(2))
    return w, plans, widths


def _nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, line) per plan node, depth being the name's indentation."""
    return [(len(ln) - len(ln.lstrip(" :+-")), ln) for ln in plan.splitlines()]


def _subtree(nodes, i) -> range:
    """Indices of node ``i``'s descendants."""
    j = i + 1
    while j < len(nodes) and nodes[j][0] > nodes[i][0]:
        j += 1
    return range(i + 1, j)


def _regions(plan: str) -> tuple[list[list[str]], list[str], list[str]]:
    """A write plan's lines split into each printed copy of the 1m cache
    (an InMemoryRelation over the rollup of the staged scan, holding no
    other cache), the lines of the other caches (the cascades) outside
    those, and the rest."""
    nodes = _nodes(plan)
    where = ["outside"] * len(nodes)
    caches_1m = []
    for i, (_, ln) in enumerate(nodes):
        if "InMemoryRelation" not in ln:
            continue
        sub = [nodes[k][1] for k in _subtree(nodes, i)]
        if (not any("InMemoryRelation" in x for x in sub)
                and any("HashAggregate" in x for x in sub)
                and any("FileScan" in x for x in sub)):
            caches_1m.append(sub)
            for k in _subtree(nodes, i):
                where[k] = "1m"
        else:
            for k in _subtree(nodes, i):
                if where[k] == "outside":
                    where[k] = "cascade"
    pick = lambda w: [ln for x, (_, ln) in zip(where, nodes) if x == w]
    return caches_1m, pick("cascade"), pick("outside")


def _count(lines: list[str], op: str) -> int:
    return sum(bool(re.search(rf"\b{op} ", ln)) for ln in lines)


def test_bucket_writes_add_no_exchange_or_sort(traced):
    """A bucket's two exchanges both sit inside the cached 1m rollup. The
    cascade caches sort their own rows but exchange nothing, and outside
    the caches no write plan exchanges or sorts: the 1m cache's conv
    partitioning and time order satisfy the gap-fill windows, the cascades
    and the grouped maps."""
    _, plans, _ = traced
    for key, plan in plans.items():
        caches_1m, cascade, outside = _regions(plan)
        assert any("InMemoryTableScan" in ln for ln in outside), key
        assert caches_1m, (key, plan)
        assert all(_count(c, "Exchange") == 2 for c in caches_1m), (key, plan)
        assert _count(cascade, "Exchange") == 0, (key, plan)
        assert _count(outside, "Exchange") == 0, (key, plan)
        assert _count(outside, "Sort") == 0, (key, plan)
        if key[0] in ("tier_1h", "tier_1d"):
            assert _count(cascade, "Sort") >= 1, (key, plan)


def test_bucket_tables_have_at_most_shuffle_width_files(traced):
    w, _, widths = traced
    for (table, b), width in widths.items():
        d = os.path.join(w, table, f"bucket={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert 1 <= len(files) <= width, (table, b, len(files), width)


def _codecs(workdir: str, table: str) -> set[str]:
    out = set()
    for d, _, files in os.walk(os.path.join(workdir, table)):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, f)).metadata
                out |= {md.row_group(g).column(c).compression
                        for g in range(md.num_row_groups)
                        for c in range(md.num_columns)}
    return out


def test_v2_tier_buckets_are_rewritten_on_resume(spark, tx, tmp_path_factory):
    """A bucket written in format 2 (snappy) under ``:tfv2`` manifests is
    rewritten as zstd on resume, with the same values."""
    w = str(tmp_path_factory.mktemp("v2"))
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=False, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    assert _codecs(w, "tier_1m") == {"ZSTD"}
    table = lambda: (spark.read.option("basePath", os.path.join(w, "tier_1m"))
                     .parquet(os.path.join(w, "tier_1m")).drop("bucket"))
    before = table().cache()
    before.count()

    old = os.path.join(w, "tier_1m", "bucket=0")
    (spark.read.parquet(old).write.option("compression", "snappy")
     .mode("overwrite").parquet(old + ".v2"))
    shutil.rmtree(old)
    os.rename(old + ".v2", old)
    assert _codecs(w, "tier_1m") == {"SNAPPY", "ZSTD"}
    mdir = os.path.join(w, "_manifests")
    for f in os.listdir(mdir):
        if f.startswith("bucket_"):
            path = os.path.join(mdir, f)
            with open(path) as fh:
                m = json.load(fh)
            m["input_fingerprint"] = m["input_fingerprint"].replace(
                f":tfv{TIER_FORMAT_VERSION}", ":tfv2")
            with open(path, "w") as fh:
                json.dump(m, fh)

    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 2
    assert _codecs(w, "tier_1m") == {"ZSTD"}
    after = table()
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    before.unpersist()
