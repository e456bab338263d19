"""Capture .explain('formatted') for a set of bench queries into files.

Usage: python tools/capture_plans.py OUTDIR [name ...]
A name is a declared query or a frame of tests/test_plans.py::Plans (the
bench-internal paths: rollup_1m_only, gapfill_1m, cascade_1m_1h,
segments_ccdc, gorilla_encode, heavy_hitters_cms). Plans are captured with
every materialize seen through, so they show the computation body; at run
time a materialized query is the `Sort <- Scan ExistingRDD` documented by
plans/r06/*_runtime.txt. The session mirrors bench.py (engine confs,
data-sized shuffle width) so the captured plans are the ones the bench
actually runs. It imports the checkout it sits in: run another checkout's
copy to capture that commit's plans.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    from tests.test_plans import Plans
    from yatsm_spark.conf import get_spark, shuffle_partitions_for_bytes

    spark = get_spark(app_name="yatsm-plans", master=f"local[{CPUS}]")
    base = os.path.basename(SF_DIR.rstrip("/"))
    tx_path = os.path.join(REPO, "data", f"transcripts_{base}.parquet")
    n_bytes = sum(os.path.getsize(os.path.join(tx_path, f))
                  for f in os.listdir(tx_path)) if os.path.isdir(tx_path) else 0
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(shuffle_partitions_for_bytes(n_bytes, CPUS)))

    with tempfile.TemporaryDirectory(prefix="plans_") as work:
        plans = Plans(spark, SF_DIR, work)
        for name in names:
            txt = plans.plan(name)
            path = os.path.join(outdir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
