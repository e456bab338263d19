"""Sequence assembly for the training-data pipeline: fixed-window
document chunking and deterministic next-fit sequence packing, over the
documents table (``doc_id``, ``text``, ``source``).

Training consumes fixed-length token sequences; the corpus has variable-
length documents. Two standard transforms bridge the gap:

- ``chunk_documents`` — split each document's token stream into
  fixed-size windows with a configurable stride (stride < chunk gives
  sliding-window overlap). Purely per-row: an in-row sequence expand +
  explode, ZERO shuffle — the plan is scan -> project -> generate, so
  it runs at input bandwidth at any scale (audited in BENCH/PLANS.md).
- ``pack_documents`` — assign documents to fixed-token-budget bins by
  the next-fit rule (append in deterministic order; open a new bin when
  the current one cannot take the next doc). Packing is inherently a
  sequential fold, so it CANNOT be a window function; the scale story is
  to bound the fold's domain: documents are packed within
  (source, shard) groups, shard = KnuthHash(doc_id) mod n_shards, so
  each fold is corpus_size / (sources x n_shards) long and the groups
  run in parallel via operators/series.py::per_series (one Arrow batch
  per group, per-group numpy loop). At 100 TB you raise n_shards, not
  the group size; bins are named (source, shard, bin_idx) so no
  cross-group coordination exists by construction.

Exactness: both transforms are pure integer/string transforms — the
DuckDB oracles (list slicing for chunks, a recursive-CTE fold for
packing) reproduce them bit-exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.operators.ranking import TOKEN_SPLIT
from yatsm_spark.operators.sampling import _KNUTH, _MOD
from yatsm_spark.operators.series import per_series

_PACK_SCHEMA = ["doc_id long", "source string", "shard int", "dl long",
                "bin_idx long", "bin_offset long"]


def chunk_documents(docs: DataFrame, chunk_tokens: int,
                    stride: int | None = None) -> DataFrame:
    """(doc_id, chunk_idx, start_token, n_tokens, chunk_text): token
    windows of ``chunk_tokens``, one row per window, starts every
    ``stride`` tokens (default: no overlap). The final window keeps the
    tail (n_tokens < chunk_tokens); empty docs emit nothing.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    stride = chunk_tokens if stride is None else stride
    if not 1 <= stride <= chunk_tokens:
        raise ValueError("stride must be in [1, chunk_tokens]")
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT),
                    lambda t: t != "")
    t = (docs.select("doc_id", toks.alias("toks"))
             .select("doc_id", "toks", F.size("toks").alias("dl"))
             .filter(F.col("dl") > 0))
    # window starts: 1, 1+stride, ... <= dl; for stride < chunk the last
    # start is the largest one still introducing >= 1 new token
    starts = F.sequence(F.lit(1), F.col("dl"), F.lit(stride))
    return (t.select("doc_id", "dl", "toks",
                     F.posexplode(starts).alias("chunk_idx", "start_token"))
             .select(
                 "doc_id",
                 F.col("chunk_idx").cast("int").alias("chunk_idx"),
                 F.col("start_token").cast("long").alias("start_token"),
                 F.least(F.lit(chunk_tokens),
                         F.col("dl") - F.col("start_token") + F.lit(1))
                  .cast("long").alias("n_tokens"),
                 F.concat_ws(" ", F.slice("toks", F.col("start_token"),
                                          F.lit(chunk_tokens)))
                  .alias("chunk_text")))


def pack_documents(docs: DataFrame, budget_tokens: int, n_shards: int = 1,
                   lengths: DataFrame | None = None) -> DataFrame:
    """Next-fit packing: within each (source, shard) group, walk docs
    in doc_id order keeping a running fill; when fill + dl would exceed
    ``budget_tokens`` and the bin is non-empty, open a new bin. A doc
    longer than the budget therefore occupies a bin alone. Returns
    (doc_id, source, shard, dl, bin_idx, bin_offset) — bin identity is
    (source, shard, bin_idx); bin_offset is the doc's token start within
    its bin. Empty docs (0 tokens) are excluded.

    ``lengths``: optional (doc_id, dl) DataFrame replacing the default
    whitespace-token measure — pass ``bpe_token_counts(...)`` renamed to
    pack against a REAL tokenizer's context budget (operators/bpe.py).
    Joined on doc_id (equi-join, AQE-planned; the lengths table is one
    row per doc, so it shuffles at doc-count, not corpus-byte, scale).
    """
    if budget_tokens < 1:
        raise ValueError("budget_tokens must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = (F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(_MOD))
             % F.lit(n_shards)).cast("int").alias("shard")
    if lengths is not None:
        base = (docs.select("doc_id", "source", shard)
                    .join(lengths.select("doc_id", F.col("dl").cast("long").alias("dl")),
                          "doc_id")
                    .filter(F.col("dl") > 0))
    else:
        toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT),
                        lambda t: t != "")
        base = (docs.select(
                    "doc_id", "source", shard,
                    F.size(toks).alias("dl"))
                    .filter(F.col("dl") > 0))

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        dls = pdf["dl"].to_numpy()
        bins, offs = [], []
        bin_idx, fill = 0, 0
        for dl in dls:
            if fill > 0 and fill + dl > budget_tokens:
                bin_idx += 1
                fill = 0
            bins.append(bin_idx)
            offs.append(fill)
            fill += int(dl)
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        pdf["bin_offset"] = pd.Series(offs, dtype="int64")
        return pdf[["doc_id", "source", "shard", "dl", "bin_idx",
                    "bin_offset"]]

    return per_series(base, ["source", "shard"], "doc_id", _pack, _PACK_SCHEMA,
                      name="pack_documents")
