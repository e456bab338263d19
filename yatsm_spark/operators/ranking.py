"""Lexical ranking for the training-data pipeline: TF-IDF keyword
extraction and BM25 retrieval over the documents table (``doc_id``,
``text``).

This is the sparse/lexical complement of the dense-embedding family
(operators/similarity.py): corpus curation needs BOTH — embedding ANN for
semantic near-dups, term statistics for keyword search, topic balance
checks, and per-document salient-term extraction. Mirrors the reference's
diagnostics-over-fits discipline (SURVEY.md §2.8 A-family: derived scores
computed relationally from a shuffled base table).

Scale shape (documented per operator, audited in BENCH/PLANS.md):

- ``doc_term_freq`` — tokenize + explode + one (doc_id, term) hash agg.
  Partial aggregation collapses repeated terms map-side, so the shuffle
  carries at most |vocab_per_doc| rows per document, never raw token
  streams. Text is pruned immediately after the explode.
- ``tfidf_topk`` — two more hash aggs (term -> df; corpus size) plus a
  vocabulary join. The document-frequency side is vocabulary-sized, NOT
  corpus-sized, so it is left to AQE: at test scale it broadcasts, at
  web scale (10^7+ terms) it sort-merge-joins on term — both correct.
  The final per-doc top-k is a row_number window over doc_id.
- ``bm25_scores`` — the query-term ``isin`` filter lands BEFORE the
  (doc, term) shuffle, so only postings for the (tiny) query vocabulary
  ever shuffle; per-doc length rides the exploded rows as a constant
  column (first(dl) in the same agg — no second pass over the text).
  The df side is bounded by |query_terms| and broadcast explicitly.

Cross-engine exactness: token membership, tf, df, dl are integers; the
only transcendental is ln(), whose IEEE-double result may differ from
DuckDB's libm by 1 ulp, so every emitted score is snapped to a 1e-6 grid
with floor(x * 1e6 + 0.5) / 1e6 IN BOTH ENGINES, and every rank / top-k
decision orders by integer keys (tf, df, the snapped-score integer) with
doc_id/term tie-breaks — engine float ordering never decides membership.
BM25's per-document SUM of term contributions is additionally made
order-independent by snapping each contribution to integer micro-units
(floor(c * 1e6 + 0.5) as long) BEFORE the aggregation: long addition is
associative, so shuffle/reduce order — which differs between engines and
between runs — cannot perturb the total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark.operators.grid import micro6, snap6

#: Same token class in Java regex (Spark) and RE2 (DuckDB): both engines
#: interpret an explicit [^a-z0-9]+ identically (no \s / \w dialect
#: divergence — the textstats.py BPE lesson).
TOKEN_SPLIT = "[^a-z0-9]+"

#: sklearn-style smooth idf: ln((N + 1) / (df + 1)) + 1 — never zero,
#: defined even for df = N.
#: BM25 uses the Robertson–Sparck Jones form ln(1 + (N - df + .5)/(df + .5))
#: with the Lucene k1/b defaults.
BM25_K1 = 1.2
BM25_B = 0.75


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens array, dl) — text dropped right here, before any
    shuffle ever sees it."""
    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT),
                    lambda t: t != "")
    return docs.select("doc_id", toks.alias("toks")) \
               .select("doc_id", "toks", F.size("toks").alias("dl"))


def doc_term_freq(docs: DataFrame) -> DataFrame:
    """Per-document term frequencies: (doc_id, term, tf). One shuffle on
    (doc_id, term) with map-side partial counts."""
    t = _tokens(docs)
    return (t.select("doc_id", F.explode("toks").alias("term"))
             .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k salient terms per document by smooth TF-IDF.

    Rank is decided ONLY by integers: (tf DESC, df ASC, term ASC) — a
    rarer term beats a commoner one at equal tf, which is exactly the
    idf ordering restricted to this doc's terms, so the integer rank IS
    the tf-idf rank wherever tf-idf is strict, and a deterministic
    lexicographic tie-break where it ties.
    """
    tf = doc_term_freq(docs)
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (tf.join(df_t, "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn("tfidf", snap6(
                    F.col("tf") * (F.log((F.col("n_docs") + F.lit(1.0))
                                         / (F.col("df") + F.lit(1.0)))
                                   + F.lit(1.0)))))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("doc_id", "rank", "term", "tf", "df", "tfidf"))


def bm25_scores(docs: DataFrame, query_terms: list[str],
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """BM25 score of every document matching >= 1 query term.

    Returns ALL matches (no float-ordered cutoff — retrieval is
    ``bm25_topk``): (doc_id, n_hit_terms, dl, score).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    q = sorted({t.lower() for t in query_terms})
    t = _tokens(docs)
    stats = t.select(F.count("*").alias("n_docs"),
                     F.avg("dl").alias("avgdl"))
    posting = (t.select("doc_id", "dl", F.explode("toks").alias("term"))
                .filter(F.col("term").isin(q))       # before the shuffle
                .groupBy("doc_id", "term")
                .agg(F.count("*").alias("tf"), F.first("dl").alias("dl")))
    df_t = posting.groupBy("term").agg(F.count("*").alias("df"))
    per_term = (posting
                .join(F.broadcast(df_t), "term")     # <= |query| rows
                .crossJoin(F.broadcast(stats))
                .withColumn("idf", F.log(
                    F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                                 / (F.col("df") + F.lit(0.5))))
                .withColumn("contrib",
                            F.col("idf") * (F.col("tf") * F.lit(k1 + 1.0))
                            / (F.col("tf") + F.lit(k1)
                               * (F.lit(1.0 - b)
                                  + F.lit(b) * F.col("dl") / F.col("avgdl"))))
                # integer micro-units BEFORE the sum: long addition is
                # associative, so reduce order cannot perturb the total
                .withColumn("contrib_u",
                            micro6(F.col("contrib")).cast("long")))
    return (per_term.groupBy("doc_id")
            .agg(F.count("*").alias("n_hit_terms"),
                 F.first("dl").alias("dl"),
                 F.sum("contrib_u").alias("_score_u"))
            .withColumn("score", F.col("_score_u") / F.lit(1e6))
            .drop("_score_u"))


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k retrieval over ``bm25_scores``. The cutoff orders by the
    snapped-score INTEGER (score * 1e6 as bigint) with a doc_id
    tie-break, so membership at the k boundary is engine-independent;
    orderBy + limit compiles to TakeOrderedAndProject — a per-partition
    heap plus a driver merge of k rows, never a full sort shuffle."""
    scored = bm25_scores(docs, query_terms, k1, b)
    # re-snap (not a bare cast): score = u/1e6 may sit 1 ulp under the
    # integer, and cast() truncates — floor(x*1e6 + .5) recovers u exactly
    skey = micro6(F.col("score")).cast("long")
    return (scored.withColumn("_skey", skey)
                  .orderBy(F.col("_skey").desc(), F.col("doc_id").asc())
                  .limit(k)
                  .drop("_skey"))
