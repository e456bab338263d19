"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts Spark once per workload and trace mode (about a
minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference as ref  # noqa: E402
import run  # noqa: E402

TINY_TURNS = 3_000


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_seeds_reproduce_and_differ(tmp_path):
    digests = []
    for i, seed in enumerate((1, 1, 2)):
        table = gen.generate(TINY_TURNS, 300, seed)
        assert table.num_rows == TINY_TURNS
        gen.write(table, str(tmp_path / f"in{i}"))
        digests.append(_digest(str(tmp_path / f"in{i}")))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_zipf_lengths_clip_before_cast():
    lens = gen.zipf_lengths(np.array([1e-12, 1e-6, 0.75, 1.0]), 1_500)
    assert lens.tolist() == [1_500, 1_500, 9, 2]


def _write_tier(canon: dict, turns, path: str) -> None:
    """Write a canonical tier back as a bucketed parquet table."""
    cols = {"conv_id": pa.array(turns.conv_ids[canon["conv"]], pa.string()),
            "window_start": pa.array(canon["slot_s"] * 1_000_000,
                                     pa.timestamp("us", tz="UTC"))}
    for m in ref.MEASURES:
        v = canon[m]
        cols[m] = pa.array(v, pa.int64(), mask=v < 0)
    cols["gap_filled"] = pa.array(canon["gap_filled"])
    os.makedirs(os.path.join(path, "bucket=0"))
    pq.write_table(pa.table(cols), os.path.join(path, "bucket=0", "part-0.parquet"))


def test_corrupted_tier_and_response_count_as_failed(tmp_path):
    table = gen.generate(TINY_TURNS, 300, 3)
    turns = ref.Turns(table)
    refs = {t: ref.tier_reference(turns, t) for t in ("1m", "1h", "1d")}
    for t in refs:
        _write_tier(refs[t], turns, str(tmp_path / "good" / f"tier_{t}"))
    bench = types.SimpleNamespace(attempted=0, failed=0)
    bench.record = types.MethodType(run.Bench.record, bench)
    assert run.check_tiers(bench, str(tmp_path / "good"), turns, refs)
    assert (bench.attempted, bench.failed) == (3, 0)

    bad = dict(refs["1h"], turn_count=refs["1h"]["turn_count"].copy())
    bad["turn_count"][len(bad["turn_count"]) // 2] += 1
    shutil.copytree(tmp_path / "good", tmp_path / "bad")
    shutil.rmtree(tmp_path / "bad" / "tier_1h")
    _write_tier(bad, turns, str(tmp_path / "bad" / "tier_1h"))
    assert not run.check_tiers(bench, str(tmp_path / "bad"), turns, refs)
    assert (bench.attempted, bench.failed) == (6, 1)

    qs, qe = gen.T0, gen.T0 + gen.WINDOW_S
    want = ref.range_reference(turns, qs, qe)
    rows = [dict(zip(["conv_id", *ref.MEASURES], (c, *v))) for c, v in want.items()]
    assert ref.rows_by_conv(rows) == want
    rows[0]["token_len_max"] += 1
    assert ref.rows_by_conv(rows) != want


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert "{" not in p.stdout


HUMAN = {"ingest": ("ingest_turns_per_s", "ingest_bytes_per_turn"),
         "serve": ("serve_p50_ms",)}


@pytest.mark.parametrize("workload,trace", [("ingest", 0), ("serve", 0),
                                            ("ingest", 1), ("serve", 1)])
def test_every_metric_prints_with_its_unit(workload, trace):
    code = (f"import sys, run; run.N_TURNS = {TINY_TURNS}; "
            f"sys.exit(run.main(['--workload', '{workload}', '--seed', '5', "
            f"'--seconds', '0', '--trace', '{trace}']))")
    p = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().split("\n")
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    printed = {ln.split()[1] for ln in lines[:-1] if ln.startswith(workload + " ")}
    assert {"setup_s", "op_p50_ms", "peak_rss_mb", "failed_share", *HUMAN[workload]} <= printed
    assert all(len(ln.split()) >= 4 for ln in lines[:-1] if ln.startswith(workload + " "))
