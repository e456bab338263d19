"""Embedding vectors on both sides of the Arrow boundary, shared by the pq,
pca and similarity operators: the valid-row filter, the conversion of
array columns to one 2-D numpy array, and the bounded gather of vectors
to the driver in id order. The filter and the gather read the embeddings
table (``vec_id``, ``embedding``).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def valid(df: DataFrame, d: int) -> DataFrame:
    """Rows of ``df`` whose vector is present with exactly ``d`` entries."""
    return df.filter(F.col("embedding").isNotNull()
                     & (F.size(F.col("embedding")) == d))


def matrix(vectors: Iterable, dtype=np.float64) -> np.ndarray:
    """One row per vector: a pandas column of Arrow lists, or collected
    lists, as an (n, d) array of ``dtype``."""
    return np.stack([np.asarray(v, dtype=dtype) for v in vectors])


def gather(df: DataFrame, where: Column, *, empty: str, cap: int | None = None,
           over: str = "") -> tuple[list[int], np.ndarray]:
    """(ids, float64 vectors) of the rows of ``df`` matching ``where``, in
    id order. Raises ValueError with ``empty`` when no row matches, and
    with ``over`` (formatted with ``n`` and ``cap``) beyond ``cap`` rows."""
    rows = (df.filter(where).select("vec_id", "embedding")
            .orderBy("vec_id").collect())
    if cap is not None and len(rows) > cap:
        raise ValueError(over.format(n=len(rows), cap=cap))
    if not rows:
        raise ValueError(empty)
    return [int(r[0]) for r in rows], matrix(r[1] for r in rows)
