"""The engine's Arrow boundary: every operator stage that hands rows to
Python crosses it here (bpe's one-row-per-word fold aside).

Every sequential kernel of the engine (CCDC segments, Gorilla chunks, the
smoothers, matrix profile, PELT, Kalman, LTTB, swing-door, packing folds)
runs in parallel across series and sequentially within each one. Spark owns
the grouping shuffle and hands each whole group to the kernel as one pandas
frame (``per_series``); this module owns what every such stage needs around
the kernel: the in-group time order, the series-length guard and the output
schema. ``per_conv`` is that stage over a tier, whose series are its
``conv_id`` groups in ``window_start`` order.

Row-wise numpy work (chunk decode, embedding encode and projection, media
decode, classifier predict) needs no grouping: ``per_batch`` runs it once
per Arrow batch, with no shuffle, and owns the empty batches, the output
schema and the one broadcast such a stage reads.

The streaming twins (streaming/stream_rollup.py) cross the same boundary
once per micro-batch through ``per_series_stateful``: the group's rows of
that micro-batch, sorted the same way, plus the state the previous
micro-batch left. The resumable kernels in kernel/ take and return that
state, so batch and stream run one recurrence.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

Schema = T.StructType | Sequence[str]


def _struct(df: DataFrame, schema: Schema) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    dt = dict(df.dtypes)
    return T.StructType.fromDDL(
        ", ".join(f"{c} {dt[c]}" if c in dt else c for c in schema))


def _sorted(pdf: pd.DataFrame, order: str) -> pd.DataFrame:
    return pdf.sort_values(order, kind="mergesort", ignore_index=True)


def _grouped(df: DataFrame, by: str | Sequence[str]):
    return df.groupBy(*([by] if isinstance(by, str) else by))


def per_series(df: DataFrame, by: str | Sequence[str], order: str,
               kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
               schema: Schema, *, max_n: int | None = None,
               name: str) -> DataFrame:
    """Run ``kernel`` once per ``by`` group of ``df``.

    The kernel receives the group stably sorted on ``order`` with a
    0..n-1 index, and returns a frame of ``schema``'s columns, or None
    for no rows. ``schema`` is a StructType, or a sequence whose entries
    are either a column of ``df`` (copied: its type is read from
    ``df.dtypes``) or a ``"name type"`` DDL fragment. A group longer
    than ``max_n`` raises ValueError naming ``name``, which also labels
    the stage in query plans.
    """
    schema = _struct(df, schema)
    cols = schema.fieldNames()

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_n is not None and len(pdf) > max_n:
            raise ValueError(
                f"{name}: series of {len(pdf)} rows exceeds max_n={max_n}; "
                "downsample or roll up to a coarser tier first")
        out = kernel(_sorted(pdf, order))
        return pd.DataFrame(columns=cols) if out is None else out

    run.__name__ = run.__qualname__ = name
    return _grouped(df, by).applyInPandas(run, schema)


def per_conv(tier: DataFrame, cols: Sequence[str],
             kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
             schema: Schema, *, max_n: int | None = None,
             name: str) -> DataFrame:
    """``per_series`` over a tier's conversations: the kernel sees one
    conv's ``(conv_id, window_start, *cols)`` in slot order. The other
    columns are pruned before the group shuffle, so the exchange moves
    only what the kernel reads."""
    return per_series(tier.select("conv_id", "window_start", *cols),
                      "conv_id", "window_start", kernel, schema,
                      max_n=max_n, name=name)


def per_batch(df: DataFrame, fn: Callable[..., pd.DataFrame | None],
              schema: Schema, *, name: str, payload: Any = None) -> DataFrame:
    """Run ``fn`` once per non-empty Arrow batch of ``df``, with no shuffle.

    ``fn(pdf)`` returns a frame of ``schema``'s columns, or None for no
    rows. With a ``payload``, it is broadcast once and ``fn(pdf, value)``
    gets its value. Schemas resolve as in ``per_series``; ``name`` labels
    the stage in query plans.
    """
    bc = None if payload is None else df.sparkSession.sparkContext.broadcast(payload)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        args = () if bc is None else (bc.value,)
        for pdf in batches:
            out = fn(pdf, *args) if len(pdf) else None
            if out is not None and len(out):
                yield out

    run.__name__ = run.__qualname__ = name
    return df.mapInPandas(run, _struct(df, schema))


def per_series_stateful(df: DataFrame, by: str | Sequence[str], order: str,
                        step: Callable[[pd.DataFrame, tuple | None],
                                       tuple[pd.DataFrame | None, tuple | None]],
                        schema: Schema, state_schema: Schema, *,
                        name: str) -> DataFrame:
    """Run ``step`` once per ``by`` group of each micro-batch of the
    streaming ``df``, carrying a per-group state between micro-batches.

    Spark may hand a group's micro-batch over in several Arrow chunks
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows each); the
    step receives them concatenated and stably sorted on ``order`` with a
    0..n-1 index, together with the stored state (a tuple of
    ``state_schema``'s fields, or None for a new group). It returns
    ``(out, state)``: a frame of ``schema``'s columns or None for no
    rows, and the state to store, None removing it. Schemas resolve as in
    ``per_series``. Append output mode, no timeout: a group's state lives
    until its step removes it. ``name`` labels the stage in query plans
    and the streaming UI.
    """
    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        out, new = step(_sorted(pd.concat(pdfs, ignore_index=True), order),
                        state.get if state.exists else None)
        if new is None:
            state.remove()
        else:
            state.update(tuple(new))
        if out is not None and len(out):
            yield out

    run.__name__ = run.__qualname__ = name
    return _grouped(df, by).applyInPandasWithState(
        run, outputStructType=_struct(df, schema),
        stateStructType=_struct(df, state_schema), outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)
