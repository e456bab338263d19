"""Capture the formatted plan and the schema of declared queries and of the
plan-contract frames, normalized so that two checkouts compare with diff.

Usage: python tools/capture_plans.py OUTDIR [name ...]
A name is a declared query or a frame of tests/test_plans.py::Plans (the
bench-internal paths: rollup_1m_only, gapfill_1m, cascade_1m_1h,
segments_ccdc, gorilla_encode, heavy_hitters_cms, ...); with no names, every
declared query and every frame is captured. OUTDIR/<name>.txt holds
explain("formatted") and then the frame's schema as JSON (nullability
included). Expression ids (``#<id>``), ``plan_id=`` values, RDD ids, the
checkout root and the temporary work dir are replaced by fixed tokens, so
the text depends only on the plan. Plans are captured with every
materialize seen through, so they show the computation body; at run time a
materialized query is the `Sort <- Scan ExistingRDD` documented by
plans/r06/*_runtime.txt. The data is the plan contract's:
tests/test_plans.py::SF_DIR (env SF_DIR, default sf0.01). The session
mirrors bench.py (engine confs, data-sized shuffle width) at
SPARK_GRAFT_CPUS cores (default: the CPUs this process may run on). It
imports the checkout it sits in: to compare two commits, run each
checkout's copy into its own OUTDIR, then ``diff -r`` the two.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def normalized(text: str, work: str) -> str:
    """``text`` without the ids and paths that differ between runs and
    checkouts."""
    text = text.replace(work, "<work>").replace(REPO, "<repo>")
    for ids, token in ((r"#\d+", "#"), (r"plan_id=\d+", "plan_id="),
                       (r"RDD\[\d+\]", "RDD[]")):
        text = re.sub(ids, token, text)
    return text


def main():
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)
    from tests.test_plans import SF_DIR, Plans, plan_of, seen_through
    from yatsm_spark.conf import get_spark, set_shuffle_width_for

    spark = get_spark(app_name="yatsm-plans", master=f"local[{CPUS}]")

    with tempfile.TemporaryDirectory(prefix="plans_") as work:
        # Plans writes the transcripts if they are missing; its frames are
        # planned later, under the width set here.
        plans = Plans(spark, SF_DIR, work)
        set_shuffle_width_for(plans.tx)
        for name in sys.argv[2:] or [*plans.queries, *plans.frames]:
            df = seen_through(plans.build(name))
            txt = normalized(plan_of(lambda: df) + "\n== Schema ==\n"
                             + json.dumps(df.schema.jsonValue(), indent=1) + "\n",
                             work)
            path = os.path.join(outdir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
