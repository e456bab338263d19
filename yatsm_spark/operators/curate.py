"""End-to-end corpus curation: the composed pipeline a training-data
team actually runs, as one auditable decision table. Reads the documents
table (``doc_id``, ``text``, ``source``).

Stage order follows the standard web-corpus recipe (C4/Gopher-style):

1. holdout split   — reserve a deterministic eval slice
                     (sampling.sample_hash; the bench side of
                     decontamination), train = exact complement;
2. quality filter  — textstats.quality_scores keep rules;
3. exact dedup     — md5 fingerprint of the normalized text, keeper =
                     min(doc_id) AMONG STAGE-2 SURVIVORS (filtering
                     first means a dropped dup can promote the next
                     lowest id — sequential semantics, not parallel);
4. near-dup dedup  — n-gram Jaccard pairs -> connected components ->
                     component-min canonical, computed over stage-3
                     survivors only (the pair graph shrinks as earlier
                     stages drop docs);
5. decontamination — word n-gram overlap vs the broadcast holdout set.

The output is a per-doc DECISION TABLE over the ENTIRE corpus — every
doc carries its deepest-surviving stage flags — because at audit time
"why was doc X dropped" matters as much as the kept set; the kept
corpus itself is `.filter("kept")`.

Scale shape: pure composition of already-audited operators (each stage
documents its own shuffle story in its module); the stage restriction
joins are id-only (doc_id + a boolean), so each narrowing join moves
key-sized rows, never text. Exactness: every stage is integer/string
relational algebra — the DuckDB oracle replays the identical staged
pipeline, recursive-CTE components included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark import conf
from yatsm_spark.operators.decontam import decontaminate
from yatsm_spark.operators.dedup import (
    _NORM,
    dedup_groups,
    ngram_jaccard_pairs,
)
from yatsm_spark.operators.sampling import sample_hash
from yatsm_spark.operators.textstats import quality_scores


def curate_corpus(docs: DataFrame, bench_rate: float = 0.05,
                  ngram_n: int = 3, jaccard_threshold: float = 0.2) -> DataFrame:
    """Per-doc curation decisions:
    (doc_id, in_train, quality_keep, exact_kept, neardup_kept,
    n_contaminated_ngrams, kept). Stage flags are cumulative — a flag is
    true only if the doc survived every earlier stage too — so `kept`
    is simply the last flag AND a zero contamination count.
    """
    # Stage boundaries are MATERIALIZED as id-sized tables (r6): the
    # decision table joins five stage outputs whose subtrees chain into
    # each other, and evaluating that DAG as a tree recomputed each
    # earlier stage once per consuming branch (quality + the jaccard->CC
    # subgraph ran several times; measured 12.5s -> ~4s at sf0.1). Each
    # checkpoint holds only (doc_id) or (doc_id, flag/count) rows —
    # text is re-attached from `docs` (doc_id is its key) exactly where a
    # stage needs it, so each stage scans the text once.
    ids = docs.select("doc_id")
    bench = sample_hash(docs, bench_rate)
    train_ids = sample_hash(docs, bench_rate, complement=True) \
        .select("doc_id").transform(conf.materialize)
    q = quality_scores(docs).select("doc_id", "quality_keep") \
        .transform(conf.materialize)

    s1_ids = train_ids.join(q.filter("quality_keep").select("doc_id"),
                            "doc_id")
    s1 = docs.select("doc_id", "text").join(s1_ids, "doc_id")
    keep2 = (s1.select("doc_id", F.md5(_NORM(F.col("text"))).alias("fp"))
               .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
               .select("doc_id").transform(conf.materialize))
    # s2 carries text into the near-dup stage and is consumed by the pair
    # builder, the labeling join and s3 — checkpoint the survivor slice so
    # the docs-scan+joins run once.
    s2 = conf.materialize(s1.join(keep2, "doc_id"))
    keep3 = (dedup_groups(s2, ngram_jaccard_pairs(
                 s2, threshold=jaccard_threshold))
             .filter("is_canonical").select("doc_id")
             .transform(conf.materialize))
    s3 = s2.join(keep3, "doc_id")
    dec = decontaminate(s3, bench, n=ngram_n) \
        .select("doc_id", "n_contaminated_ngrams")

    def flag(id_set: DataFrame, name: str) -> DataFrame:
        return id_set.select("doc_id").withColumn(name, F.lit(True))

    out = (ids
           .join(flag(train_ids, "in_train"), "doc_id", "left")
           .join(q, "doc_id", "left")
           .join(flag(keep2, "exact_kept"), "doc_id", "left")
           .join(flag(keep3, "neardup_kept"), "doc_id", "left")
           .join(dec, "doc_id", "left"))
    f = lambda c: F.coalesce(F.col(c), F.lit(False))
    return out.select(
        "doc_id",
        f("in_train").alias("in_train"),
        (f("in_train") & f("quality_keep")).alias("quality_keep"),
        f("exact_kept").alias("exact_kept"),
        f("neardup_kept").alias("neardup_kept"),
        F.coalesce("n_contaminated_ngrams", F.lit(0)).cast("long")
         .alias("n_contaminated_ngrams"),
        (f("neardup_kept")
         & (F.coalesce("n_contaminated_ngrams", F.lit(1)) == 0))
        .alias("kept"))


def curate_training_set(docs: DataFrame, bench_rate: float = 0.05,
                        dup_ratio_max: float = 0.5,
                        min_avg_logprob: float = -9.0,
                        fuzzy_threshold: float = 0.5, span_n: int = 5) -> DataFrame:
    """The round-5 curation signals composed into one per-train-doc
    decision table: unigram-LM quality (lm_unigram_score, trained on the
    TRAIN split only — the eval slice must not shape the LM),
    duplicated-substring coverage (dup_ngram_spans, counted within the
    train split), and fuzzy decontamination vs the broadcast holdout
    (decontaminate_fuzzy). Complements :func:`curate_corpus` (quality /
    exact-dup / near-dup-CC / exact decontam) with the
    similarity-and-statistics layer.

    Returns (doc_id, avg_logprob, dup_ratio, fuzzy_contaminated,
    lm_keep, dup_keep, kept) for every TRAIN doc; kept = lm_keep AND
    dup_keep AND NOT fuzzy_contaminated. All three signals are snapped
    (round-6 / integer micro-units), so thresholding is value-exact
    cross-engine.

    Scale shape: pure composition — each input operator documents its
    own shuffle story; the final assembly is two doc_id equi-joins
    moving only id + a few scalars, never text.
    """
    from yatsm_spark.operators.decontam import decontaminate_fuzzy
    from yatsm_spark.operators.dedup import dup_ngram_spans
    from yatsm_spark.operators.textstats import lm_unigram_score

    bench = sample_hash(docs, bench_rate)
    train = sample_hash(docs, bench_rate, complement=True)
    lm = lm_unigram_score(train).select("doc_id", "avg_logprob")
    spans = dup_ngram_spans(train, n=span_n, min_count=2).select(
        "doc_id", "dup_ratio")
    fz = decontaminate_fuzzy(train, bench, shingle_n=3,
                             threshold=fuzzy_threshold) \
        .select("doc_id", F.col("contaminated").alias("fuzzy_contaminated"))
    lm_keep = F.col("avg_logprob").isNotNull() \
        & (F.col("avg_logprob") >= min_avg_logprob)
    dup_keep = F.col("dup_ratio") <= dup_ratio_max
    return (lm.join(spans, "doc_id").join(fz, "doc_id")
            .select("doc_id", "avg_logprob", "dup_ratio",
                    "fuzzy_contaminated",
                    lm_keep.alias("lm_keep"), dup_keep.alias("dup_keep"))
            .withColumn("kept", F.col("lm_keep") & F.col("dup_keep")
                        & ~F.col("fuzzy_contaminated")))


def datamix_report(docs: DataFrame) -> DataFrame:
    """Per-source corpus telemetry — the summary table a curation
    pipeline publishes after every run: volume (docs / chars / words),
    quality pass rates (the simplified composite AND the full Gopher
    battery at the discriminating 5/1 thresholds), exact-duplicate rate,
    and the corpus-self LM score re-aggregated from EXACT integer
    micro-sums (never a mean of already-rounded doubles — that would be
    order-dependent).

    Every emitted rate is one round-6 division of exact integers, so the
    DuckDB oracle is value-identical. Plan: the per-doc signal operators
    (each a linear scan / bounded agg) hash-join on doc_id — all
    co-partitioned after the first shuffle — then ONE hash agg on
    source."""
    from yatsm_spark.operators.textstats import (
        fingerprints, gopher_rules, lm_unigram_score, quality_scores,
        token_counts)

    base = docs.select("doc_id", "source")
    tok = token_counts(docs).select("doc_id", "n_chars", "n_ws_tokens")
    q = quality_scores(docs).select("doc_id", "quality_keep")
    g = gopher_rules(docs, min_words=5, min_stops=1) \
        .select("doc_id", "gopher_keep")
    fp = fingerprints(docs)
    dup = (fp.join(fp.groupBy("fingerprint")
                     .agg(F.count(F.lit(1)).alias("_c")), "fingerprint")
           .select("doc_id", (F.col("_c") > 1).alias("is_dup")))
    lm = lm_unigram_score(docs, with_micro=True) \
        .select("doc_id", F.col("n_tokens").alias("lm_tokens"),
                "lp_micro_sum")

    j = (base.join(tok, "doc_id").join(q, "doc_id").join(g, "doc_id")
         .join(dup, "doc_id").join(lm, "doc_id"))
    n = F.count(F.lit(1))
    return (j.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_ws_tokens").cast("long").alias("n_tokens"),
        F.round(F.sum(F.col("quality_keep").cast("int")) / n, 6)
         .alias("quality_rate"),
        F.round(F.sum(F.col("gopher_keep").cast("int")) / n, 6)
         .alias("gopher_rate"),
        F.round(F.sum(F.col("is_dup").cast("int")) / n, 6)
         .alias("dup_rate"),
        F.when(F.sum("lm_tokens") > 0,
               F.round(F.sum("lp_micro_sum") / 1e6 / F.sum("lm_tokens"), 6))
         .alias("lm_avg_logprob"),
    ))
