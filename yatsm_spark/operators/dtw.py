"""DTW re-ranking of series-pair candidates (kernel/dtw.py through a
distributed pairs-join): the exact elastic-distance stage behind cheap
candidate generators like the SAX-word buckets (tx_sax_neardups) —
the bucket-then-exact pipeline shape the embedding near-dup path uses
(LSH buckets -> exact cosine), applied to time series. Reads a rollup
tier (``conv_id``, ``window_start``) and a ``(conv_a, conv_b)`` pair table.

Scale shape: the per-series array table is ONE groupBy over the tier
(order-safe array_sort(collect_list(struct))), each array bounded by
``max_n`` (longer series raise — downsample first); the pairs frame is
joined against it twice (broadcast when small, hash otherwise) and the
integer DP runs per pair in one Arrow batch pass (mapInPandas). No
floats anywhere — the distance is bit-identical at any parallelism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.kernel.dtw import dtw_core
from yatsm_spark.operators.series import per_batch


def series_arrays(tier: DataFrame, value_col: str = "turn_count") -> DataFrame:
    """(conv_id, series array ordered by slot) — struct-sort, so the order
    is deterministic without a global sort."""
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("window_start", value_col))),
        lambda s: s[value_col])
    return tier.groupBy("conv_id").agg(arr.alias("series"))


def dtw_rerank(tier: DataFrame, pairs: DataFrame,
               value_col: str = "turn_count", radius: int | None = None,
               max_n: int = 2048) -> DataFrame:
    """Exact (banded) DTW distance for every candidate pair: returns
    (conv_a, conv_b, len_a, len_b, dtw)."""
    arrs = series_arrays(tier, value_col)
    j = (pairs.select("conv_a", "conv_b")
         .join(arrs.select(F.col("conv_id").alias("conv_a"),
                           F.col("series").alias("_sa")), "conv_a")
         .join(arrs.select(F.col("conv_id").alias("conv_b"),
                           F.col("series").alias("_sb")), "conv_b")
         .select("conv_a", "conv_b", "_sa", "_sb"))

    def compute(pdf):
        rows = []
        for ca, cb, sa, sb in zip(pdf["conv_a"], pdf["conv_b"],
                                  pdf["_sa"], pdf["_sb"]):
            if len(sa) > max_n or len(sb) > max_n:
                raise ValueError(
                    f"dtw_rerank: series of {max(len(sa), len(sb))} "
                    f"rows exceeds max_n={max_n}; downsample "
                    "(lttb/m4/cascade) first")
            d = dtw_core([int(v) for v in sa], [int(v) for v in sb], radius)
            rows.append((ca, cb, len(sa), len(sb), d))
        return pd.DataFrame(rows, columns=["conv_a", "conv_b", "len_a", "len_b", "dtw"])

    return per_batch(j, compute,
                     ["conv_a", "conv_b", "len_a long", "len_b long", "dtw long"],
                     name="dtw_rerank")
