"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation set. Both sides are documents tables
(``doc_id``, ``text``).

The standard pre-training hygiene step (GPT-3 appendix C / PaLM-style):
any training document containing an n-gram that also occurs in an eval
benchmark is contaminated and must be dropped or audited. The eval set
here is synthesized deterministically from the same table via the Knuth
hash sampler (operators/sampling.py) — at production it is the real
benchmark corpus, which is always tiny relative to the training corpus.

Scale shape (audited in BENCH/PLANS.md):

- The benchmark side is eval-set-sized (thousands of docs, millions of
  n-grams at worst), NEVER corpus-sized, so its distinct n-gram set is
  BROADCAST to the train side — an explicit ``F.broadcast`` left-semi
  style join, no corpus shuffle on the n-gram key.
- The train side is one explode to DISTINCT per-doc n-grams (the
  ``array_distinct`` runs inside the row, before the explode, so a doc
  repeating one contaminated n-gram 1000x still emits it once) followed
  by one hash-agg back to doc_id. Text is pruned before the explode.
- The final left join back to the full doc list (to emit clean docs
  with overlap 0) re-uses the documents scan and joins on doc_id.

Exactness: membership and counts are pure string/integer relational
algebra — no floats anywhere — so the DuckDB oracle matches bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.operators.ranking import TOKEN_SPLIT


def _doc_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, ngram) with per-doc DISTINCT n-grams; docs shorter than
    n tokens emit none. The distinct runs inside the row (array level),
    before the explode."""
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT),
                    lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice("toks", i, n)))
    return (docs.select("doc_id", toks.alias("toks"))
                .filter(F.size("toks") >= n)
                .select("doc_id",
                        F.explode(F.array_distinct(grams)).alias("ngram")))


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 5) -> DataFrame:
    """Per training document: how many of its distinct word ``n``-grams
    occur anywhere in the ``bench`` eval set, and the contamination flag.

    Returns (doc_id, n_contaminated_ngrams, contaminated) for EVERY doc
    in ``docs`` (clean docs carry 0/false), so the output is a drop-in
    audit column set. ``bench`` rows present in ``docs`` (same doc_id)
    are NOT excluded automatically — pass the already-disjoint train
    split; self-contamination of the eval set is the caller's bug.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    bench_grams = _doc_ngrams(bench, n) \
        .select("ngram").distinct()
    hits = (_doc_ngrams(docs, n)
            .join(F.broadcast(bench_grams), "ngram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_contaminated_ngrams")))
    return (docs.select("doc_id")
                .join(hits, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("n_contaminated_ngrams", F.lit(0))
                     .cast("long").alias("n_contaminated_ngrams"))
                .withColumn("contaminated",
                            F.col("n_contaminated_ngrams") > 0))


def decontaminate_fuzzy(docs: DataFrame, bench: DataFrame, shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Fuzzy benchmark decontamination: per training document, its exact
    word-shingle Jaccard against every eval document it shares a shingle
    with, flagged at ``threshold`` — catches lightly-edited benchmark
    copies that the any-shared-n-gram rule of :func:`decontaminate`
    either misses (longer n) or over-fires on (short n). The GPT-3-
    appendix-style fuzzy audit, as a relational plan.

    Returns for EVERY doc in ``docs``: ``(doc_id, matched_bench_id,
    jaccard, contaminated)`` where matched_bench_id is the best hit
    (max round-6 Jaccard, then lowest bench id — deterministic) or NULL,
    and jaccard is 0.0 for clean docs.

    Scale shape: the eval side is benchmark-sized by definition, so its
    per-doc shingle set and sizes travel by BROADCAST — the intersection
    counts come from one linear pass over the train shingles (explode ->
    broadcast hash join -> one (doc, bench) hash-agg); no corpus-wide
    pair join and no LSH needed (banding only pays when the candidate
    side cannot broadcast, which an eval set always can). One further
    shuffle ranks hits per doc. Jaccard divisions are exact integer /
    integer snapped to the round-6 grid — cross-engine value-exact.
    """
    if shingle_n < 1:
        raise ValueError("shingle_n must be >= 1")
    tsh = _doc_ngrams(docs, shingle_n)
    bsh = _doc_ngrams(bench, shingle_n) \
        .select(F.col("doc_id").alias("bench_id"), "ngram")
    t_sizes = tsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_t"))
    b_sizes = bsh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("sz_b"))
    inter = (tsh.join(F.broadcast(bsh), "ngram")
             .groupBy("doc_id", "bench_id")
             .agg(F.count(F.lit(1)).alias("inter")))
    j = (inter.join(t_sizes, "doc_id").join(F.broadcast(b_sizes), "bench_id")
         .withColumn("jaccard", F.round(
             F.col("inter").cast("double")
             / (F.col("sz_t") + F.col("sz_b") - F.col("inter")), 6))
         .filter(F.col("jaccard") >= threshold))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("bench_id").asc())
    best = (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("bench_id").alias("matched_bench_id"),
                    F.col("jaccard").alias("best_j")))
    return (docs.select("doc_id").join(best, "doc_id", "left")
            .select("doc_id", "matched_bench_id",
                    F.coalesce("best_j", F.lit(0.0)).alias("jaccard"),
                    F.col("matched_bench_id").isNotNull()
                     .alias("contaminated")))
