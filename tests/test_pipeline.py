"""Checkpoint/resume invariants (FIXTURES.md §3; BASELINE.md resumability
row): kill after k buckets, resume, outputs identical to an uninterrupted
run — the graft's hardened version of `yatsm line --resume`."""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from yatsm_spark.checkpoint import CheckpointManager
from yatsm_spark.operators.codec import CHUNK_FORMAT_VERSION, decode_chunks
from yatsm_spark.pipeline import PipelineConfig, PipelineMetrics, run_pipeline
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

    for t in ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m"):
        a = _table(spark, w_full, t)
        b = _table(spark, w_res, t)
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t


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
        assert m["chunks_1m"] == _bucket(spark, w, "chunks_1m", b).count()
        for t in ("tier_1m", "tier_1h", "tier_1d", "segments", "chunks_1m"):
            nbytes, nfiles = _on_disk(w, t, b)
            assert nfiles >= 1 and nbytes > 0, t
            assert (m[f"bytes_{t}"], m[f"files_{t}"]) == (nbytes, nfiles), t


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


def test_adaptive_salting_pipeline_tiers_identical(spark, tx, tmp_path_factory):
    # The salting knob changes only the physical agg plan; every tier a
    # pipeline writes must be bit-identical across strategies.
    w_none = str(tmp_path_factory.mktemp("p_salt_none"))
    w_adpt = str(tmp_path_factory.mktemp("p_salt_adaptive"))
    run_pipeline(spark, tx, PipelineConfig(workdir=w_none, n_buckets=2,
                                           compress=False, segments=False),
                 resume=False)
    run_pipeline(spark, tx, PipelineConfig(workdir=w_adpt, n_buckets=2,
                                           compress=False, segments=False,
                                           salting="adaptive"),
                 resume=False)
    for tier in ("tier_1m", "tier_1h", "tier_1d"):
        a = _table(spark, w_none, tier)
        b = _table(spark, w_adpt, tier)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier


def test_empty_transcripts_raise_before_staging(spark, tx, tmp_path):
    # rollup("bucket") returns no rows at all for an empty input, so the
    # fingerprint pass has no grand-total row to read.
    empty = spark.createDataFrame([], tx.schema)
    with pytest.raises(ValueError, match="run_pipeline: transcripts is empty"):
        run_pipeline(spark, empty, PipelineConfig(workdir=str(tmp_path), n_buckets=2))
    assert not os.path.exists(os.path.join(str(tmp_path), "staging_measures"))


def test_unknown_salting_is_rejected(tmp_path):
    with pytest.raises(ValueError, match=r"one of \['adaptive', 'always', 'none'\], got 'adaptiv'"):
        PipelineConfig(workdir=str(tmp_path), salting="adaptiv")
