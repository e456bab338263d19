"""Real merge-table BPE over the documents table (train + tokenize): reads
``doc_id`` and ``text``.

Replaces the regex count *proxy* (textstats.token_counts.n_bpe_tokens)
with actual byte-pair encoding for pipelines that pack to a model's
context length (round-4 VERDICT missing #3). Spark-first shape:

* **word counts** — pre-tokenize with the SAME GPT-2-style regex that
  textstats uses (already proven oracle-portable to RE2), explode, one
  hash-agg shuffle to the distinct-pretoken table. At 100 TB that table
  is bounded by the corpus vocabulary (~10^6-10^7), not the corpus.
* **training** — driver-side over the collected (word, count) table with
  a RAISING cap (the PQ/k-means trainer pattern, pq.py:43): above
  ``max_words`` the job fails loudly with the fix (raise the cap or
  pre-prune rare words) instead of silently truncating the vocabulary.
* **tokenize** — only DISTINCT pretokens run the Python kernel (each
  word is tokenized once, however often it occurs), via applyInPandas
  over a hash-bucketed word grouping with the merge ranks broadcast;
  per-doc counts come from a broadcast join of the exploded pretokens
  against the tiny word->n_tokens table, then one groupBy(doc_id).

The driver oracle re-derives training AND segmentation in one DuckDB
recursive CTE (__spark_entry__.oracle_sql 'bpe_token_counts' /
'bpe_merges') — fully independent of kernel/bpe.py, exact string
equality on merges and exact counts per doc.

No yatsm analogue; Sennrich 2016 / GPT-2 encoder (public knowledge).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from yatsm_spark.kernel.bpe import apply_bpe, ranks_of, train_bpe
from yatsm_spark.operators.textstats import BPE_REGEX

#: Driver-side training-table cap — raises, never truncates (house rule:
#: silent caps read as "covered everything" when they didn't).
MAX_TRAIN_WORDS = 1 << 17


def _pretokens():
    # F.lit, not an f-string into F.expr: BPE_REGEX itself contains a
    # single quote (the contraction branch), which would terminate an
    # embedded SQL string literal.
    return F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), F.lit(0))


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, cnt) over GPT-2-style pretokens — one hash-agg shuffle."""
    return (
        docs.select(F.explode(_pretokens()).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
    )


def bpe_train(docs: DataFrame, n_merges: int = 64,
              min_count: int = 2, max_words: int = MAX_TRAIN_WORDS) -> list[tuple[str, str]]:
    """Learn the ordered merge table from the corpus (driver-side on the
    bounded distinct-pretoken count table)."""
    wc = word_counts(docs)
    rows = wc.limit(max_words + 1).collect()
    if len(rows) > max_words:
        raise RuntimeError(
            f"BPE training vocabulary exceeds max_words={max_words}; raise "
            "the cap or pre-prune rare pretokens (HAVING cnt >= k) first")
    return train_bpe({r["word"]: r["cnt"] for r in rows},
                     n_merges=n_merges, min_count=min_count)


def bpe_merges(docs: DataFrame, n_merges: int = 64, min_count: int = 2) -> DataFrame:
    """Trained merge table as rows (rank, left, right)."""
    spark = docs.sparkSession
    merges = bpe_train(docs, n_merges, min_count)
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string")


def _tokenized_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """word -> (word, n_tokens, tokens) for DISTINCT words; ranks ship by
    closure capture (tiny — n_merges pairs), kernel runs once per word."""
    ranks = ranks_of(merges)

    def tok(pdf: pd.DataFrame) -> pd.DataFrame:
        toks = [apply_bpe(w, ranks) for w in pdf["word"]]
        return pd.DataFrame({"word": pdf["word"],
                             "n_tokens": [len(t) for t in toks],
                             "tokens": toks})

    return words.groupBy("word").applyInPandas(
        tok, "word string, n_tokens long, tokens array<string>")


def bpe_tokenize(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, word, pos, tokens) — every pretoken of every doc with its
    BPE split; distinct words tokenize once, then broadcast-join back."""
    pre = docs.select(
        "doc_id", F.posexplode(_pretokens()).alias("pos", "word"))
    tw = _tokenized_words(pre.select("word").distinct(), merges)
    return pre.join(F.broadcast(tw), "word").select(
        "doc_id", "pos", "word", "tokens")


def bpe_token_counts(docs: DataFrame, n_merges: int = 64,
                     min_count: int = 2) -> DataFrame:
    """Per-doc REAL BPE token count (train on this corpus, then count):
    (doc_id, n_pretokens, n_bpe_real)."""
    merges = bpe_train(docs, n_merges, min_count)
    pre = docs.select(
        "doc_id", F.explode(_pretokens()).alias("word"))
    tw = _tokenized_words(pre.select("word").distinct(), merges).drop("tokens")
    return (
        pre.join(F.broadcast(tw), "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pretokens"),
             F.sum("n_tokens").alias("n_bpe_real"))
    )
