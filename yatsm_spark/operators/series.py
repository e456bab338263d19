"""The per-series kernel boundary: one sorted grouped map per series key.

Every sequential kernel of the engine (CCDC segments, Gorilla chunks, the
smoothers, matrix profile, PELT, Kalman, LTTB, swing-door, packing folds)
runs in parallel across series and sequentially within each one. Spark owns
the grouping shuffle and hands each whole group to the kernel as one pandas
frame; this module owns what every such stage needs around the kernel: the
in-group time order, the series-length guard and the output schema.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def per_series(df: DataFrame, by: str | Sequence[str], order: str,
               kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
               schema: T.StructType | Sequence[str], *,
               max_n: int | None = None, name: str) -> DataFrame:
    """Run ``kernel`` once per ``by`` group of ``df``.

    The kernel receives the group stably sorted on ``order`` with a
    0..n-1 index, and returns a frame of ``schema``'s columns, or None
    for no rows. ``schema`` is a StructType, or a sequence whose entries
    are either a column of ``df`` (copied: its type is read from
    ``df.dtypes``) or a ``"name type"`` DDL fragment. A group longer
    than ``max_n`` raises ValueError naming ``name``.
    """
    if not isinstance(schema, T.StructType):
        dt = dict(df.dtypes)
        schema = T.StructType.fromDDL(
            ", ".join(f"{c} {dt[c]}" if c in dt else c for c in schema))
    cols = schema.fieldNames()

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_n is not None and len(pdf) > max_n:
            raise ValueError(
                f"{name}: series of {len(pdf)} rows exceeds max_n={max_n}; "
                "downsample or roll up to a coarser tier first")
        out = kernel(pdf.sort_values(order, kind="mergesort", ignore_index=True))
        return pd.DataFrame(columns=cols) if out is None else out

    keys = [by] if isinstance(by, str) else list(by)
    return df.groupBy(*keys).applyInPandas(run, schema)
