"""DSIR-style data selection via importance resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how much more likely its
hashed n-gram features are under a TARGET distribution (e.g. the
high-quality / in-domain slice) than under the raw SOURCE distribution,
then keep the top-k by weight. Reads the documents table (``doc_id``,
``text``).

Features are unigrams + adjacent bigrams of whitespace-normalized
lowercase words, hashed to ``n_buckets`` via the first 4 hex digits of
md5 (the repo's portable 16-bit hash — identical in Spark and DuckDB, see
operators/dedup.py). Bucket distributions are Laplace-smoothed; the
per-bucket log-ratio is snapped to integer micro-units BEFORE the per-doc
sum (the BM25/lm_score discipline), so each document's weight is an exact
long and ranking is integer-exact cross-engine.

Scale shape: ONE tokenize + explode + md5 pass over the corpus, reduced
to a (doc, target-flag, bucket, multiplicity) table that is
materialized once (bounded by docs x n_buckets, far smaller than the
occurrence stream); source/target bucket counts and the per-doc weight agg
all reuse it, so the text is normalized and hashed exactly once. The ratio
dim broadcast-joins back onto the checkpointed table; ONE per-doc hash agg.
Selection avoids the one-reducer global window with the range-partition +
local-rank + broadcast-offsets machinery of
operators/sampling.py::global_shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from yatsm_spark import conf
from yatsm_spark.operators.dedup import _NORM
from yatsm_spark.operators.grid import micro6


def _bucket(col) -> Column:
    # first 16 bits of md5 — portable across engines (dedup.py discipline)
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def dsir_weights(docs: DataFrame, target: Column,
                 n_buckets: int = 65536) -> DataFrame:
    """Per-document DSIR importance weight.

    ``target`` is a boolean Column over ``docs`` marking the target-domain
    slice (both distributions are estimated from the same table; in
    production the target counts would come from a separate curated
    corpus — same plan, different scan).

    Returns (doc_id, n_feats, logw_micro, logw): logw_micro is the exact
    integer sum over gram occurrences of
    floor(ln(p_target(bucket)/p_source(bucket)) * 1e6 + 0.5) with add-one
    smoothing over ``n_buckets`` buckets; logw is its round-6 double
    reading, and logw_per_feat the length-normalized variant (NULL for
    gram-less docs — which otherwise carry n_feats=0, logw_micro=0).
    """
    # Tokenize + md5-bucket the corpus ONCE. The previous formulation built
    # three independent gram subtrees (source counts, target counts, per-doc
    # join-back) and Spark recomputed the full normalize/split/md5 pass for
    # each — 3x the dominant cost. Carrying the target flag through one
    # gram stream, pre-aggregating to (doc, flag, bucket, k) and
    # materializing that bounded table (<= docs x n_buckets rows,
    # far smaller than the occurrence stream) lets every downstream agg
    # reuse one tokenize pass. All sums below are over the same integers,
    # so cs/ct/n_feats/lw are unchanged.
    # The word array is MATERIALIZED as a column before any lambda touches
    # it: Catalyst's common-subexpression elimination does not reach inside
    # higher-order-function lambdas, so an expression-tree `words` referenced
    # by element_at() inside transform() re-ran the whole normalize+split
    # PER ELEMENT — O(words^2) per doc (measured 7.1s -> 0.6s on the gram
    # stream at sf0.1).
    flagged = docs.select(
        "doc_id", target.alias("_is_t"),
        F.filter(F.split(_NORM(F.col("text")), " "),
                 lambda w: w != F.lit("")).alias("_w"))
    wcol = F.col("_w")
    bigrams = F.when(
        F.size(wcol) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(wcol) - 1),
                    lambda i: F.concat(F.element_at(wcol, i), F.lit(" "),
                                       F.element_at(wcol, i + 1))),
    ).otherwise(F.array())
    occ = (flagged.select("doc_id", "_is_t",
                          F.explode(F.concat(wcol, bigrams)).alias("gram"))
           .select("doc_id", "_is_t", _bucket(F.col("gram")).alias("bucket")))
    occ_k = (occ.groupBy("doc_id", "_is_t", "bucket")
                .agg(F.count(F.lit(1)).alias("k"))
                .transform(conf.materialize))

    src = occ_k.groupBy("bucket").agg(F.sum("k").alias("cs"))
    tgt = (occ_k.filter(F.col("_is_t"))
           .groupBy("bucket").agg(F.sum("k").alias("ct")))

    # coalesce(…, 0): with an EMPTY slice sum() is NULL in Spark, which would
    # NULL every log-ratio and silently zero all weights, while the DuckDB
    # oracle coalesces to 0 and computes real ratios — keep engines identical.
    tot_s = src.agg(F.coalesce(F.sum("cs"), F.lit(0)).alias("ts"))
    tot_t = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))

    dim = (src.join(tgt, "bucket", "left")
           .select("bucket", "cs", F.coalesce("ct", F.lit(0)).alias("ct"))
           .crossJoin(F.broadcast(tot_s)).crossJoin(F.broadcast(tot_t)))
    b = F.lit(float(n_buckets))
    ratio = (((F.col("ct") + 1).cast("double")
              * (F.col("ts").cast("double") + b))
             / ((F.col("cs") + 1).cast("double")
                * (F.col("tt").cast("double") + b)))
    dim = dim.select(
        "bucket", micro6(F.log(ratio)).cast("long").alias("lr"))

    per_doc = (occ_k.join(F.broadcast(dim), "bucket")
                .groupBy("doc_id")
                .agg(F.sum("k").alias("n_feats"),
                     F.sum(F.col("k") * F.col("lr")).alias("lw")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
                    F.coalesce("lw", F.lit(0)).cast("long").alias("logw_micro"),
                    F.round(F.coalesce("lw", F.lit(0)) / 1e6, 6).alias("logw"),
                    F.when(F.col("n_feats") > 0,
                           F.round(F.col("lw") / 1e6 / F.col("n_feats"), 6))
                     .alias("logw_per_feat")))


def dsir_select(weights: DataFrame, k: int,
                n_parts: int | None = None) -> DataFrame:
    """Deterministic top-k selection by (logw_micro DESC, doc_id ASC) —
    the resampling step, with the paper's Gumbel noise replaced by a
    deterministic rank cut so the oracle can replay it exactly.

    No one-reducer global window: the shared range-partitioned rank
    machinery (operators/sampling.py::global_rank). Emits
    (doc_id, logw_micro, dsir_rank, kept)."""
    from yatsm_spark.operators.sampling import global_rank

    d = weights.select("doc_id", "logw_micro",
                       (-F.col("logw_micro")).alias("_neg"))
    ranked = global_rank(d, ["_neg", "doc_id"], n_parts)
    return ranked.select("doc_id", "logw_micro",
                         F.col("rank").alias("dsir_rank"),
                         (F.col("rank") <= k).alias("kept"))
