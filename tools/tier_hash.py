"""Print an order-insensitive hash of every rollup tier built at
SPARK_GRAFT_CPUS parallelism. Run it at two parallelisms to check the
tiers are bit-identical across cluster sizes (SURVEY.md §7.5.1), or before
and after a refactor to show it leaves every tier bit-identical.

Env: SPARK_GRAFT_SF_DIR (default sf0.01; only the scale name, the last path
component, is used: the transcripts are synthesized into data/),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def main():
    import json

    from pyspark.sql import functions as F

    from yatsm_spark.conf import get_spark
    from yatsm_spark.ingest import with_measures
    from yatsm_spark.operators.cascade import cascade
    from yatsm_spark.operators.rollup import gapfill, rollup_from_turns
    from yatsm_spark.synth import transcripts_for_sf

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8))
    tx = transcripts_for_sf(spark, SF_DIR, data_root=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"))
    sparse = rollup_from_turns(with_measures(tx), "1m").cache()
    h1 = cascade(sparse, "1m", "1h").cache()
    tiers = {
        "1m": gapfill(sparse, "1m"),
        "1h": gapfill(h1, "1h"),
        "1d": gapfill(cascade(h1, "1h", "1d"), "1d"),
    }
    out = {}
    for name, df in tiers.items():
        row = df.select(
            F.expr("bit_xor(xxhash64(*))").alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        out[name] = {"hash": int(row["h"]), "rows": int(row["n"])}
    print(json.dumps({"cpus": CPUS, "tiers": out}))


if __name__ == "__main__":
    main()
