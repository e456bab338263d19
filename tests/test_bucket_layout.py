"""Per-bucket physical layout of a pipeline run: the sparse 1m rollup is the
bucket's one conv exchange, every table write inherits its partitioning and
order, each table has at most the bucket's shuffle width of files, the
tables are zstd parquet, and their footers carry only the metadata readers
use (a resume rewrites buckets of the older formats)."""

import json
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from yatsm_spark.conf import scoped_conf
from yatsm_spark.operators.rollup import MEASURES, MOMENTS
from yatsm_spark.pipeline import PipelineConfig, run_pipeline
from yatsm_spark.sources.storage import TIER_FORMAT_VERSION, ParquetStorage
from yatsm_spark.synth import generate_transcripts

TABLES = ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m")
STAT_MOMENTS = {m.name for m in MOMENTS if m.gap is None}


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


def _column_chunks(workdir: str, table: str):
    """Metadata of every column chunk over a table's files and row groups."""
    for d, _, files in os.walk(os.path.join(workdir, table)):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, f)).metadata
                for g in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        yield md.row_group(g).column(c)


def _codecs(workdir: str, table: str) -> set[str]:
    return {cc.compression for cc in _column_chunks(workdir, table)}


def _footers(workdir: str, table: str) -> dict[str, tuple[set, set]]:
    """{column path: ({has min/max}, {encodings})} over a table's column
    chunks; an all-null chunk with statistics counts as having min/max."""
    out = {}
    for cc in _column_chunks(workdir, table):
        stats, encs = out.setdefault(cc.path_in_schema, (set(), set()))
        st = cc.statistics if cc.is_stats_set else None
        stats.add(st is not None and (st.has_min_max or st.num_values == 0))
        encs.add(cc.encodings)
    return out


def _relabel_manifests(workdir: str, version: int) -> None:
    """Make every bucket manifest name tier format ``version``."""
    mdir = os.path.join(workdir, "_manifests")
    for f in os.listdir(mdir):
        if f.startswith("bucket_"):
            path = os.path.join(mdir, f)
            with open(path) as fh:
                m = json.load(fh)
            assert m["input_fingerprint"].endswith(f":tfv{TIER_FORMAT_VERSION}")
            m["input_fingerprint"] = m["input_fingerprint"].replace(
                f":tfv{TIER_FORMAT_VERSION}", f":tfv{version}")
            with open(path, "w") as fh:
                json.dump(m, fh)


#: Columns reads filter on: they keep min/max statistics where present.
FILTERED = {"conv_id", "tier", "window_start", "chunk_start", "start_ts", "end_ts",
            "break_ts", "gap_filled"}
#: Columns no read filters on: counts, segment fit values, codec blobs.
UNFILTERED = {*MEASURES, "n_points", "ts_codec", "val_codec", "segment_id",
              "coef.list.element", "rmse", "magnitude", "n_obs"}


def _assert_footer_contract(workdir: str, tables) -> None:
    for table in tables:
        cols = _footers(workdir, table)
        assert set(cols) <= FILTERED | UNFILTERED, (table, sorted(cols))
        assert "conv_id" in cols, table
        for col, (stats, encs) in cols.items():
            assert stats == {col in FILTERED}, (table, col, stats)
            if col in STAT_MOMENTS:
                assert not any("RLE_DICTIONARY" in e or "PLAIN_DICTIONARY" in e
                               for e in encs), (table, col, encs)
            if col == "window_start":
                assert encs == {("DELTA_BINARY_PACKED",)}, (table, encs)


def test_bucket_footers_keep_only_filtered_statistics(traced):
    """Min/max statistics (and with them the column indexes) stay on the
    key, time and flag columns that route_range, retention and the tier
    reads filter on; measures, fit values and codec blobs have none; no
    stat moment is dictionary-encoded; window_start stays delta-encoded."""
    w, _, _ = traced
    _assert_footer_contract(w, TABLES)
    seen = set().union(*(_footers(w, t) for t in TABLES))
    assert FILTERED | UNFILTERED == seen


def test_v3_tier_buckets_are_rewritten_on_resume(spark, tx, tmp_path_factory):
    """A bucket written in format 3 (statistics on every column, dictionary
    on the stat moments) under ``:tfv3`` manifests is rewritten on resume,
    with the same values and the format-4 footers."""
    w = str(tmp_path_factory.mktemp("v3"))
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=False, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    table = lambda: (spark.read.option("basePath", os.path.join(w, "tier_1m"))
                     .parquet(os.path.join(w, "tier_1m")).drop("bucket"))
    before = table().cache()
    before.count()

    old = os.path.join(w, "tier_1m", "bucket=0")
    with scoped_conf(spark.conf, "spark.sql.parquet.outputTimestampType",
                     "TIMESTAMP_MICROS"):
        (spark.read.parquet(old).write.mode("overwrite")
         .option("compression", "zstd").option("parquet.writer.version", "v2")
         .option("parquet.enable.dictionary#window_start", "false")
         .parquet(old + ".v3"))
    shutil.rmtree(old)
    os.rename(old + ".v3", old)
    v3 = _footers(w, os.path.join("tier_1m", "bucket=0"))
    assert all(v3[m][0] == {True} for m in MEASURES)
    assert any(any("RLE_DICTIONARY" in e for e in v3[m][1]) for m in STAT_MOMENTS)
    _relabel_manifests(w, 3)

    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 2
    after = table()
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    _assert_footer_contract(w, ("tier_1m", "tier_1h", "tier_1d"))
    before.unpersist()


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
    _relabel_manifests(w, 2)

    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 2
    assert _codecs(w, "tier_1m") == {"ZSTD"}
    after = table()
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    before.unpersist()
