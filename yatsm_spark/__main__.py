"""spark-submit entry point.

Cluster usage (north rule: `spark-submit --py-files` on a multi-executor
cluster):

    zip -r yatsm_spark.zip yatsm_spark
    spark-submit --py-files yatsm_spark.zip -m yatsm_spark \
        --input  <parquet/iceberg path of transcripts> \
        --workdir <output root> --buckets 256

Local sandbox equivalent (what the tests/bench drive):

    python -m yatsm_spark --synth-convs 2000 --workdir /tmp/out

The job is resumable: rerunning with the same workdir skips buckets whose
checkpoint manifests match the current input fingerprint (see
yatsm_spark/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(prog="yatsm_spark")
    ap.add_argument("--input", help="transcripts table path (parquet dir)")
    ap.add_argument("--synth-convs", type=int, default=0,
                    help="generate a deterministic synthetic table instead of --input")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--no-segments", action="store_true")
    ap.add_argument("--phenology", action="store_true",
                    help="append A3 diurnal phenology fields to segments")
    ap.add_argument("--no-compress", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None,
                    help="override master (default: cluster-provided or local[$SPARK_GRAFT_CPUS])")
    args = ap.parse_args(argv)

    from yatsm_spark.conf import get_spark
    from yatsm_spark.pipeline import PipelineConfig, run_pipeline
    from yatsm_spark.synth import generate_transcripts

    spark = get_spark(app_name="yatsm-spark-job", master=args.master)
    if args.synth_convs:
        tx = generate_transcripts(spark, args.synth_convs)
    elif args.input:
        tx = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth-convs is required")

    m = run_pipeline(
        spark, tx,
        PipelineConfig(workdir=args.workdir, n_buckets=args.buckets,
                       segments=not args.no_segments,
                       phenology=args.phenology,
                       compress=not args.no_compress),
        resume=not args.no_resume,
    )
    print(json.dumps({
        "staged_turns": m.staged_turns,
        "buckets_processed": len(m.buckets),
        "wall_s": round(m.wall_s, 2),
        "turns_per_sec": round(m.staged_turns / m.wall_s, 1) if m.wall_s else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
