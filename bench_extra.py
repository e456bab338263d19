"""Optimization-round probe harness (guide §1.4): isolates pieces of the
expensive bench queries with the noop sink so we time the computation, not
the sink, and decompose query cost into its stages. NOT the frozen bench —
bench.py stays the driver's measurement surface; numbers from here are
cited in OPTIMIZATION_r06.md only.

Usage: python bench_extra.py PROBE [PROBE ...]
       python bench_extra.py --list
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default 32), PROBE_REPS (default 2; min is kept).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("PROBE_REPS", "2"))

PROBES: dict[str, callable] = {}


def probe(fn):
    PROBES[fn.__name__] = fn
    return fn


def sink(df):
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# probes — each takes (spark, tx) and returns a DataFrame to sink (or runs
# its own actions and returns None)

from pyspark.sql import functions as F  # noqa: E402


def _measures(tx):
    from yatsm_spark.ingest import with_measures

    return with_measures(tx)


def _tier(tx, tier="1m"):
    from yatsm_spark.operators.rollup import rollup_from_turns

    return rollup_from_turns(_measures(tx), tier)


@probe
def anomaly_scan_only(spark, tx):
    """tx_anomaly stage 1: filtered scan + measures projection."""
    return _measures(tx.filter(F.col("conv_id") < "conv00000100"))


@probe
def anomaly_rollup(spark, tx):
    """tx_anomaly stages 1-2: filtered scan -> 1m rollup."""
    return _tier(tx.filter(F.col("conv_id") < "conv00000100"))


@probe
def anomaly_full(spark, tx):
    """the declared tx_anomaly query body."""
    from yatsm_spark.operators.tsfuncs import rolling_anomaly

    t = _tier(tx.filter(F.col("conv_id") < "conv00000100")) \
        .select("conv_id", "window_start", "turn_count")
    return rolling_anomaly(t, "turn_count", k=30, sigma=3, min_n=8) \
        .orderBy("conv_id", "window_start")


@probe
def hh_current(spark, tx):
    from yatsm_spark.operators.sketches import heavy_hitters

    return heavy_hitters(tx, ["role"], "conv_id", 600)


@probe
def hh_exact_groupby(spark, tx):
    """the oracle shape: plain GROUP BY ... HAVING, no sketch."""
    return (tx.filter(F.col("conv_id").isNotNull())
              .groupBy("role", "conv_id").agg(F.count("*").alias("cnt"))
              .filter(F.col("cnt") >= 600))


@probe
def hh_prefilter_selectivity(spark, tx):
    """how many rows actually survive the CMS prefilter (printed)."""
    from yatsm_spark.operators.sketches import cms_table, _with_cms_estimate

    rows = tx.filter(F.col("conv_id").isNotNull()).select("role", "conv_id")
    cms = cms_table(rows, ["role"], "conv_id").localCheckpoint(eager=True)
    pre = _with_cms_estimate(rows, cms, ["role"], "conv_id", "_est")
    total = rows.count()
    kept = pre.filter(F.col("_est") >= 600).count()
    print(f"# hh prefilter: {kept}/{total} rows survive "
          f"({100.0 * kept / total:.1f}%)")


@probe
def deriv_tier_only(spark, tx):
    return _tier(tx)


@probe
def deriv_full(spark, tx):
    from yatsm_spark.operators.tsfuncs import deriv

    return deriv(_tier(tx), "token_len_sum").orderBy("conv_id")


@probe
def segments_ccdc(spark, tx):
    from yatsm_spark.operators.changescore import change_scores

    return change_scores(_tier(tx))


@probe
def segments_trivial_kernel(spark, tx):
    """per-group machinery cost: same shuffle + applyInPandas shape as
    segments_ccdc but the kernel returns one constant row per conv."""
    import pandas as pd
    from pyspark.sql import types as T

    sch = T.StructType([T.StructField("conv_id", T.StringType()),
                        T.StructField("n", T.LongType())])

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{"conv_id": pdf["conv_id"].iloc[0],
                              "n": len(pdf)}])

    t = _tier(tx).select("conv_id", "window_start", "turn_count")
    return t.groupBy("conv_id").applyInPandas(f, sch)


@probe
def gorilla_encode(spark, tx):
    from yatsm_spark.operators.codec import encode_chunks

    return encode_chunks(_tier(tx), "1m")


@probe
def dsir_weights(spark, tx):
    import __spark_entry__ as e

    return e.queries()["dsir_weights"](spark, SF_DIR)


@probe
def asof_tool(spark, tx):
    import __spark_entry__ as e

    return e.queries()["tx_asof_tool"](spark, SF_DIR)


# ---------------------------------------------------------------------------


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    if "--list" in sys.argv or not args:
        print("\n".join(PROBES))
        return
    from yatsm_spark.conf import get_spark, set_shuffle_width_for
    from yatsm_spark.synth import transcripts_for_sf

    spark = get_spark(app_name="yatsm-probe", master=f"local[{CPUS}]")
    tx = transcripts_for_sf(spark, SF_DIR, data_root=os.path.join(REPO, "data"))
    set_shuffle_width_for(tx)
    out = {}
    for name in args:
        fn = PROBES[name]
        best = None
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.time()
            df = fn(spark, tx)
            if df is not None:
                sink(df)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}s")
    print(json.dumps({"probes": out, "sf": SF_DIR, "cpus": CPUS,
                      "reps": REPS}))


if __name__ == "__main__":
    main()
