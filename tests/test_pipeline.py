"""Checkpoint/resume invariants (FIXTURES.md §3; BASELINE.md resumability
row): kill after k buckets, resume, outputs identical to an uninterrupted
run — the graft's hardened version of `yatsm line --resume`."""

import json
import os
import re
import shutil
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter, functions as F
from pyspark.sql.types import TimestampType

from yatsm_spark.checkpoint import CheckpointManager
from yatsm_spark.operators.changescore import SEGMENT_SCHEMA
from yatsm_spark.operators.codec import CHUNK_FORMAT_VERSION, FULL_MODE, decode_chunks
from yatsm_spark.pipeline import (BUCKET_TABLES, PipelineConfig, PipelineMetrics,
                                  run_pipeline)
from yatsm_spark.sources.storage import TIER_FORMAT_VERSION, ParquetStorage
from yatsm_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def tx(spark):
    df = generate_transcripts(spark, 30, seed=3, max_turns=1500).cache()
    df.count()
    return df


def _table(spark, workdir, name):
    return (
        spark.read.option("basePath", os.path.join(workdir, name))
        .parquet(os.path.join(workdir, name))
        .drop("bucket")
    )


def _assert_tables_equal(spark, w_a, w_b, tables, cols=None):
    """Each table of ``tables`` holds the same rows, bucket column included,
    in workdirs ``w_a`` and ``w_b`` (over ``cols`` when given)."""
    for t in tables:
        a, b = (spark.read.parquet(os.path.join(w, t)) for w in (w_a, w_b))
        if cols is not None:
            a, b = a.select(*cols), b.select(*cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t


def test_kill_and_resume_is_bit_identical(spark, tx, tmp_path_factory):
    w_full = str(tmp_path_factory.mktemp("full"))
    w_res = str(tmp_path_factory.mktemp("resumed"))
    cfg_full = PipelineConfig(workdir=w_full, n_buckets=4, compress=True, segments=True)
    cfg_res = PipelineConfig(workdir=w_res, n_buckets=4, compress=True, segments=True)

    m1 = run_pipeline(spark, tx, cfg_full, resume=False)
    assert m1.staged_turns == tx.count()

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, tx, cfg_res, resume=True, fail_after_bucket=1)
    m2 = run_pipeline(spark, tx, cfg_res, resume=True)
    # resumed run must only have processed the remaining buckets
    assert len(m2.buckets) < 4

    _assert_tables_equal(spark, w_full, w_res,
                         ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m"))


def _bucket(spark, workdir, name, b):
    return spark.read.parquet(os.path.join(workdir, name, f"bucket={b}"))


def _on_disk(workdir, name, b):
    """(bytes, files) of a bucket's parquet data files."""
    d = os.path.join(workdir, name, f"bucket={b}")
    sizes = [os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
             if f.endswith(".parquet")]
    return sum(sizes), len(sizes)


def test_manifests_record_lineage_and_metrics(spark, tx, tmp_path_factory):
    """Every count a bucket manifest records (observed on the writes) equals
    a read-back count of that bucket's files, and its per-table bytes and
    file counts equal the bucket's parquet files on disk."""
    w = str(tmp_path_factory.mktemp("mani"))
    cfg = PipelineConfig(workdir=w, n_buckets=4, compress=True, segments=True)
    run_pipeline(spark, tx, cfg, resume=False)

    ms = CheckpointManager(w).manifests("bucket")
    assert len(ms) == 4
    for m in ms:
        assert m["complete"] is True
        assert ":" in m["input_fingerprint"]
        assert m["wall_ms"] > 0
        assert m["rollup_1m"] > 0
        b = m["bucket"]
        real = lambda t: _bucket(spark, w, t, b).where(~F.col("gap_filled")).count()
        assert m["rows_out"] == m["rollup_1m"] == _bucket(spark, w, "tier_1m", b).count()
        assert m["rollup_1m_sparse"] == real("tier_1m")
        assert m["rollup_1h"] == real("tier_1h")
        assert m["rollup_1d"] == real("tier_1d")
        assert m["segments"] == _bucket(spark, w, "segments", b).count()
        chunks = _bucket(spark, w, "chunks_1m", b).collect()
        assert m["chunks_1m"] == len(chunks)
        assert m["chunks_1m_underived"] == sum(
            r.val_codec[(r.n_points + 7) // 8] != FULL_MODE for r in chunks)
        for t in ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m"):
            nbytes, nfiles = _on_disk(w, t, b)
            assert nfiles >= 1 and nbytes > 0, t
            assert (m[f"bytes_{t}"], m[f"files_{t}"]) == (nbytes, nfiles), t


def test_rollup_chunks_all_take_the_derived_layout(spark, tmp_path):
    """Over the bundled sf0.001 transcripts every chunk a run writes leaves
    out the values the moment identities give (codec.py): the manifest
    counts 0 chunks with another mode byte, and the chunks decode to
    tier_1m."""
    w = str(tmp_path)
    tx = spark.read.parquet(os.path.join(os.path.dirname(__file__), os.pardir, "data",
                                         "transcripts_sf0.001.parquet"))
    cfg = PipelineConfig(workdir=w, n_buckets=1, compress=True, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    (m,) = CheckpointManager(w).manifests("bucket")
    assert m["chunks_1m"] > 0
    assert m["chunks_1m_underived"] == 0
    tier = _table(spark, w, "tier_1m")
    back = decode_chunks(_table(spark, w, "chunks_1m"))
    assert back.exceptAll(tier).count() == 0 and tier.exceptAll(back).count() == 0


def test_changed_input_invalidates_bucket(spark, tx, tmp_path_factory):
    """Resume with a CHANGED input and no manual cache clearing: the staging
    fingerprint (computed from the raw transcripts) must differ, forcing
    re-staging, and the per-bucket fingerprints then differ too, forcing
    bucket recompute. Round-1 ADVICE (medium): a constant staging
    fingerprint silently skipped every bucket on changed input."""
    w = str(tmp_path_factory.mktemp("inval"))
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=False, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    # New input (one conv more) -> fingerprints differ -> buckets recompute,
    # WITHOUT any manual staging/manifest invalidation.
    tx2 = generate_transcripts(spark, 31, seed=3, max_turns=1500)
    m = run_pipeline(spark, tx2, cfg, resume=True)
    assert len(m.buckets) >= 1
    total = _table(spark, w, "tier_1m").select("conv_id").distinct().count()
    assert total == 31


def test_unchanged_input_resume_skips_everything(spark, tx, tmp_path_factory):
    """Resume with IDENTICAL input must skip all buckets (fingerprints
    match) — the flip side of invalidation."""
    w = str(tmp_path_factory.mktemp("skip"))
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=False, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 0


def test_pipeline_leaves_unset_session_confs_unset(spark, tx, tmp_path):
    """The bucket loop's shuffle width and the conv cache's AQE switch are
    session-global: a key the caller never set must read back unset, not
    as the last bucket's width or an explicit 'true'."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.unset(k)
        run_pipeline(spark, tx, PipelineConfig(workdir=str(tmp_path), n_buckets=2,
                                               compress=False, segments=False))
        assert {k: spark.conf.get(k, None) for k in keys} == dict.fromkeys(keys)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_pipeline_leaves_the_callers_session_confs_as_they_were(spark, tx, tmp_path):
    """Every session conf reads back as it was before a run, after a clean
    run and after an injected failure, whether the caller had set the keys
    the pipeline sets (the shuffle width, the timestamp type) or not."""
    keys = {"spark.sql.shuffle.partitions": "7",
            "spark.sql.parquet.outputTimestampType": "INT96"}
    prev = {k: spark.conf.get(k, None) for k in keys}
    cfg = lambda name: PipelineConfig(workdir=str(tmp_path / name), n_buckets=2,
                                      compress=False, segments=False)
    try:
        for caller_set in (True, False):
            for k, v in keys.items():
                if caller_set:
                    spark.conf.set(k, v)
                else:
                    spark.conf.unset(k)
            before = spark.conf.getAll
            run_pipeline(spark, tx, cfg(f"clean{caller_set}"))
            assert spark.conf.getAll == before
            with pytest.raises(RuntimeError, match="injected failure"):
                run_pipeline(spark, tx, cfg(f"failed{caller_set}"), fail_after_bucket=0)
            assert spark.conf.getAll == before
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_every_bucket_timestamp_is_int64_micros(spark, tx, tmp_path, monkeypatch):
    """A bucket's writes run at once, and each sets the session's timestamp
    type around itself. Each bucket's segments write is held after it has
    set the type and before it plans, until the bucket's tier_1m write has
    ended and restored it; every table must still store its timestamps as
    INT64 micros, not as Spark's default INT96."""
    w = str(tmp_path)
    tier_1m_done = {b: threading.Event() for b in range(2)}
    orig_write, orig_parquet = ParquetStorage.write_bucket, DataFrameWriter.parquet

    def write_bucket(self, df, table, bucket):
        orig_write(self, df, table, bucket)
        if table == "tier_1m":
            tier_1m_done[bucket].set()

    def parquet(self, path, *a, **k):
        held = re.search(r"segments/\.bucket=(\d+)", path)
        if held:
            assert tier_1m_done[int(held.group(1))].wait(300)
        return orig_parquet(self, path, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(ParquetStorage, "write_bucket", write_bucket)
        mp.setattr(DataFrameWriter, "parquet", parquet)
        run_pipeline(spark, tx, PipelineConfig(workdir=w, n_buckets=2), resume=False)
    for table in BUCKET_TABLES:
        root = os.path.join(w, table)
        want = {f.name for f in spark.read.parquet(root).schema.fields
                if isinstance(f.dataType, TimestampType)}
        assert want, table
        files = [os.path.join(d, f) for d, _, fs in os.walk(root)
                 for f in fs if f.endswith(".parquet")]
        assert files, table
        for path in files:
            schema = pq.ParquetFile(path).schema
            leaves = [schema.column(i) for i in range(len(schema))]
            got = {c.path: (c.physical_type, c.converted_type) for c in leaves
                   if c.physical_type == "INT96" or c.logical_type.type == "TIMESTAMP"}
            assert got == dict.fromkeys(want, ("INT64", "TIMESTAMP_MICROS")), path


def test_a_failed_write_raises_after_the_others_and_commits_nothing(
        spark, tx, tmp_path, monkeypatch):
    """A bucket table write that raises: run_pipeline raises that error once
    the bucket's other writes have ended, commits no manifest for the
    bucket, and a resume gives the tables of an uninterrupted run."""
    w, w_full = str(tmp_path / "failed"), str(tmp_path / "full")
    run_pipeline(spark, tx, PipelineConfig(workdir=w_full, n_buckets=2), resume=False)
    cfg = PipelineConfig(workdir=w, n_buckets=2)
    orig, ended = ParquetStorage.write_bucket, []

    def write_bucket(self, df, table, bucket):
        if (table, bucket) == ("segments", 1):
            raise RuntimeError("segments write failed")
        orig(self, df, table, bucket)
        ended.append((table, bucket))

    with monkeypatch.context() as mp:
        mp.setattr(ParquetStorage, "write_bucket", write_bucket)
        with pytest.raises(RuntimeError, match="segments write failed"):
            run_pipeline(spark, tx, cfg, resume=False)
        assert sorted(t for t, b in ended if b == 1) == \
            sorted(set(BUCKET_TABLES) - {"segments"})
    assert [m["bucket"] for m in CheckpointManager(w).manifests("bucket")] == [0]

    resumed = run_pipeline(spark, tx, cfg)
    assert [m["bucket"] for m in resumed.buckets] == [1]
    _assert_tables_equal(spark, w_full, w, BUCKET_TABLES)


def _window_start_encodings(workdir):
    """{(physical type, encodings)} of tier_1m.window_start over all files
    and row groups."""
    root = os.path.join(workdir, "tier_1m")
    out = set()
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            col = md.schema.names.index("window_start")
            for g in range(md.num_row_groups):
                c = md.row_group(g).column(col)
                out.add((c.physical_type, c.encodings))
    return out


def test_old_format_buckets_are_rewritten_on_resume(spark, tx, tmp_path_factory):
    """Tiers store window_start as delta-encoded INT64. A resume over buckets
    whose manifests predate the format version rewrites them (here one is
    also put back in Spark's default INT96 layout), and the values stay the
    same."""
    w = str(tmp_path_factory.mktemp("format"))
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=False, segments=False)
    ts_conf = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    run_pipeline(spark, tx, cfg, resume=False)
    # the writer's session conf is restored after every write
    assert spark.conf.get("spark.sql.parquet.outputTimestampType", None) == ts_conf
    assert _window_start_encodings(w) == {("INT64", ("DELTA_BINARY_PACKED",))}
    before = _table(spark, w, "tier_1m").cache()
    before.count()

    # Old-format workdir: manifests without the format version and a bucket
    # in Spark's default layout (INT96 timestamps, v1 pages).
    old = os.path.join(w, "tier_1m", "bucket=0")
    _bucket(spark, w, "tier_1m", 0).write.mode("overwrite").parquet(old + ".int96")
    shutil.rmtree(old)
    os.rename(old + ".int96", old)
    assert {t for t, _ in _window_start_encodings(w)} == {"INT64", "INT96"}
    mdir = os.path.join(w, "_manifests")
    for f in os.listdir(mdir):
        if f.startswith("bucket_"):
            path = os.path.join(mdir, f)
            with open(path) as fh:
                m = json.load(fh)
            m["input_fingerprint"] = m["input_fingerprint"].replace(
                f":tfv{TIER_FORMAT_VERSION}", "")
            with open(path, "w") as fh:
                json.dump(m, fh)

    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 2
    assert _window_start_encodings(w) == {("INT64", ("DELTA_BINARY_PACKED",))}
    after = _table(spark, w, "tier_1m")
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    before.unpersist()


def test_old_chunk_format_buckets_are_rewritten_on_resume(spark, tx, tmp_path_factory):
    """Chunks carry CHUNK_FORMAT_VERSION in the bucket fingerprint. A resume
    over buckets whose manifests name an older chunk format rewrites them
    (here one bucket's val_codec is also replaced by bytes no decoder of
    the current layout accepts), and the decoded values stay the same."""
    w = str(tmp_path_factory.mktemp("chunk_format"))
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=True, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    before = decode_chunks(_table(spark, w, "chunks_1m")).cache()
    before.count()

    old = os.path.join(w, "chunks_1m", "bucket=0")
    (_bucket(spark, w, "chunks_1m", 0)
     .withColumn("val_codec", F.lit(b"\x00\x00\x00\x05old-layout"))
     .write.mode("overwrite").parquet(old + ".old"))
    shutil.rmtree(old)
    os.rename(old + ".old", old)
    mdir = os.path.join(w, "_manifests")
    for f in os.listdir(mdir):
        if f.startswith("bucket_"):
            path = os.path.join(mdir, f)
            with open(path) as fh:
                m = json.load(fh)
            assert m["input_fingerprint"].endswith(f":cfv{CHUNK_FORMAT_VERSION}")
            m["input_fingerprint"] = m["input_fingerprint"].replace(
                f":cfv{CHUNK_FORMAT_VERSION}", f":cfv{CHUNK_FORMAT_VERSION - 1}")
            with open(path, "w") as fh:
                json.dump(m, fh)

    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 2
    after = decode_chunks(_table(spark, w, "chunks_1m"))
    assert before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    before.unpersist()


def test_window_start_skips_dictionary_when_slots_repeat(spark, tmp_path):
    """Many convs sharing few slots: the dictionary would pass the writer's
    size check on the first page; window_start is still delta-encoded and
    reads back unchanged."""
    df = spark.range(20_000).select(
        F.format_string("c%03d", F.col("id") % 100).alias("conv_id"),
        F.timestamp_seconds(1_735_689_600 + F.expr("id div 100") * 60).alias("window_start"))
    ParquetStorage(str(tmp_path)).write_bucket(df, "tier_1m", 0)
    assert _window_start_encodings(str(tmp_path)) == {("INT64", ("DELTA_BINARY_PACKED",))}
    back = _bucket(spark, str(tmp_path), "tier_1m", 0)
    assert df.exceptAll(back).count() == 0 and back.exceptAll(df).count() == 0


def test_an_uncommitted_bucket_stays_out_of_reads(spark, tmp_path, monkeypatch):
    """A crash between a bucket's write and its rename leaves the staged
    directory in the table; reads of the table see only committed buckets,
    with an int bucket column, and the next write of the bucket commits."""
    store = ParquetStorage(str(tmp_path))
    rows = lambda n: spark.range(n).select(F.format_string("c%d", "id").alias("conv_id"))
    store.write_bucket(rows(5), "tier_1m", 0)

    def crash(src, dst):
        raise OSError("crashed before the rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="crashed before the rename"):
            store.write_bucket(rows(2), "tier_1m", 1)
    assert len(os.listdir(store.path("tier_1m"))) == 2
    for df in (store.read(spark, "tier_1m"), spark.read.parquet(store.path("tier_1m"))):
        assert df.count() == 5
        assert dict(df.dtypes)["bucket"] == "int"
    assert store.bucket_names("tier_1m") == ["0"]

    store.write_bucket(rows(2), "tier_1m", 1)
    assert sorted(os.listdir(store.path("tier_1m"))) == ["bucket=0", "bucket=1"]
    assert store.read(spark, "tier_1m").count() == 7


def test_resume_removes_a_leftover_staging_directory(spark, tx, tmp_path):
    """A bucket=<b>.inprogress directory, left by a crash under the staging
    name used before the leading dot, is not a committed bucket: the next
    run removes it, and the table reads back only committed rows with an
    int bucket column."""
    w = str(tmp_path)
    cfg = PipelineConfig(workdir=w, n_buckets=2, compress=False, segments=False)
    run_pipeline(spark, tx, cfg, resume=False)
    store = ParquetStorage(w)
    want = store.read(spark, "tier_1m").count()
    leftover = os.path.join(store.path("tier_1m"), "bucket=0.inprogress")
    shutil.copytree(os.path.join(store.path("tier_1m"), "bucket=0"), leftover)
    assert spark.read.parquet(store.path("tier_1m")).count() > want

    m = run_pipeline(spark, tx, cfg, resume=True)
    assert len(m.buckets) == 0
    assert not os.path.exists(leftover)
    for df in (store.read(spark, "tier_1m"), spark.read.parquet(store.path("tier_1m"))):
        assert df.count() == want
        assert dict(df.dtypes)["bucket"] == "int"


def test_empty_transcripts_raise_before_staging(spark, tx, tmp_path):
    # rollup("bucket") returns no rows at all for an empty input, so the
    # fingerprint pass has no grand-total row to read.
    empty = spark.createDataFrame([], tx.schema)
    with pytest.raises(ValueError, match="run_pipeline: transcripts is empty"):
        run_pipeline(spark, empty, PipelineConfig(workdir=str(tmp_path), n_buckets=2))
    assert not os.path.exists(os.path.join(str(tmp_path), "staging_measures"))


def test_resume_honours_segments_and_phenology(spark, tx, tmp_path_factory):
    """Turning segments or phenology on or off between runs rewrites every
    bucket: the resumed segments table equals a fresh run's, and a table the
    config no longer writes loses its bucket directories."""
    w_fresh = str(tmp_path_factory.mktemp("segs_fresh"))
    w = str(tmp_path_factory.mktemp("segs_resumed"))
    cfg = dict(n_buckets=2, compress=False)
    run_pipeline(spark, tx, PipelineConfig(workdir=w_fresh, phenology=True, **cfg),
                 resume=False)
    run_pipeline(spark, tx, PipelineConfig(workdir=w, segments=False, **cfg))

    m = run_pipeline(spark, tx, PipelineConfig(workdir=w, phenology=True, **cfg))
    assert len(m.buckets) == 2
    _assert_tables_equal(spark, w_fresh, w, ("segments", "tier_1m"))

    m = run_pipeline(spark, tx, PipelineConfig(workdir=w, **cfg))
    assert len(m.buckets) == 2
    base = [*SEGMENT_SCHEMA.fieldNames(), "bucket"]
    assert sorted(spark.read.parquet(os.path.join(w, "segments")).columns) == sorted(base)
    _assert_tables_equal(spark, w_fresh, w, ("segments",), cols=base)

    m = run_pipeline(spark, tx, PipelineConfig(workdir=w, segments=False, **cfg))
    assert len(m.buckets) == 2
    assert ParquetStorage(w).bucket_names("segments") == []


def test_resume_with_another_bucket_count(spark, tx, tmp_path_factory):
    """A resume with more or fewer buckets restages the input and leaves
    the tables and manifests a fresh run with that count would."""
    fresh = {}
    for n in (2, 4):
        fresh[n] = str(tmp_path_factory.mktemp(f"fresh{n}"))
        run_pipeline(spark, tx, PipelineConfig(workdir=fresh[n], n_buckets=n,
                                               compress=False, segments=False),
                     resume=False)
    w = str(tmp_path_factory.mktemp("rebucket"))
    for n in (2, 4, 2):
        run_pipeline(spark, tx, PipelineConfig(workdir=w, n_buckets=n,
                                               compress=False, segments=False))
        _assert_tables_equal(spark, fresh[n], w, ("tier_1m", "tier_1h", "tier_1d"))
        assert sorted(m["bucket"] for m in CheckpointManager(w).manifests("bucket")) \
            == list(range(n))
