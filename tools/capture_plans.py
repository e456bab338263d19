"""Capture .explain('formatted') for a set of bench queries into files.

Usage: python tools/capture_plans.py OUTDIR [query ...]
The session mirrors bench.py (engine confs, data-sized shuffle width) so
the captured plans are the ones the bench actually runs. Runs from
whatever repo root is first on sys.path — point PYTHONPATH at a worktree
to capture the plans of another commit.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: bench-internal paths (not in queries()) rebuilt exactly as bench.py does
BENCH_INTERNAL = ("rollup_1m_only", "gapfill_1m", "cascade_1m_1h",
                  "segments_ccdc", "gorilla_encode", "heavy_hitters_cms")


def bench_internal_df(name, spark, tx):
    from yatsm_spark.ingest import with_measures
    from yatsm_spark.operators.cascade import cascade
    from yatsm_spark.operators.changescore import change_scores
    from yatsm_spark.operators.codec import encode_chunks
    from yatsm_spark.operators.rollup import gapfill, rollup_from_turns
    from yatsm_spark.operators.sketches import heavy_hitters

    tier = rollup_from_turns(with_measures(tx), "1m")
    if name == "rollup_1m_only":
        return tier
    if name == "gapfill_1m":
        return gapfill(tier, "1m")
    if name == "cascade_1m_1h":
        return cascade(tier, "1m", "1h")
    if name == "segments_ccdc":
        return change_scores(tier, densify=True)
    if name == "gorilla_encode":
        return encode_chunks(tier, "1m", densify=True)
    if name == "heavy_hitters_cms":
        return heavy_hitters(tx, ["role"], "conv_id", 600)
    raise KeyError(name)


def main():
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    from yatsm_spark.conf import get_spark, shuffle_partitions_for_bytes
    from yatsm_spark.synth import transcripts_for_sf

    spark = get_spark(app_name="yatsm-plans", master=f"local[{CPUS}]")
    base = os.path.basename(SF_DIR.rstrip("/"))
    tx_path = os.path.join(REPO, "data", f"transcripts_{base}.parquet")
    n_bytes = sum(os.path.getsize(os.path.join(tx_path, f))
                  for f in os.listdir(tx_path)) if os.path.isdir(tx_path) else 0
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(shuffle_partitions_for_bytes(n_bytes, CPUS)))
    tx = transcripts_for_sf(spark, SF_DIR, data_root=os.path.join(REPO, "data"))

    import __spark_entry__ as e

    # PLANS_NO_CKPT=1: bypass the lazy localCheckpoint that `_ordered`
    # inserts before each query's final orderBy. The checkpoint truncates the
    # visible plan to `Sort <- Scan ExistingRDD`, hiding the computation
    # body; bypassing it captures the body plan in the same shape as the
    # before-capture so operator-level plan diffs stay comparable. The
    # runtime shape (Sort over the checkpointed RDD) is documented by the
    # *_runtime.txt captures taken without this flag.
    if os.environ.get("PLANS_NO_CKPT"):
        e._ordered = lambda df, *cols: df.orderBy(*cols)

    qs = e.queries()
    for name in names:
        if name in BENCH_INTERNAL:
            df = bench_internal_df(name, spark, tx)
        else:
            df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
