"""Lexical ranking (TF-IDF / BM25) and deterministic sampling operators.

Three layers: hand-computed values on a tiny corpus (the math), plan-shape
assertions (the scale posture the docstrings promise — filter before the
posting shuffle, TakeOrdered instead of a global sort, shuffle-free hash
sample), and determinism/composability properties (hash-sample threshold
composition, stratified-sample prefix extensibility).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.test_plans import plan_of
from yatsm_spark.operators.ranking import (
    bm25_scores,
    bm25_topk,
    doc_term_freq,
    tfidf_topk,
)
from yatsm_spark.operators.sampling import (
    _KNUTH,
    _MOD,
    sample_hash,
    sample_stratified,
)

CORPUS = [
    (0, "apple banana apple", "s0"),
    (1, "banana cherry", "s0"),
    (2, "apple apple apple durian", "s1"),
    (3, "cherry durian elder", "s1"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t, s) for i, t, s in CORPUS], "doc_id long, text string, source string")


def test_doc_term_freq_counts(docs):
    got = {(r.doc_id, r.term): r.tf for r in doc_term_freq(docs).collect()}
    assert got[(0, "apple")] == 2 and got[(0, "banana")] == 1
    assert got[(2, "apple")] == 3 and got[(2, "durian")] == 1
    assert (1, "apple") not in got


def test_tfidf_hand_computed(docs):
    rows = {(r.doc_id, r.term): r for r in tfidf_topk(docs, k=5).collect()}
    # df: apple 2, banana 2, cherry 2, durian 2, elder 1; N = 4
    r = rows[(0, "apple")]
    want = 2 * (math.log(5.0 / 3.0) + 1.0)
    assert r.tf == 2 and r.df == 2
    assert r.tfidf == math.floor(want * 1e6 + 0.5) / 1e6
    # rank on doc 0: apple (tf 2) then banana (tf 1)
    assert rows[(0, "apple")].rank == 1 and rows[(0, "banana")].rank == 2
    # doc 3 ties at tf=1 break by (df ASC, term ASC): elder(df1) first,
    # then cherry/durian (df2) lexicographically
    d3 = sorted((r.rank, r.term) for k, r in rows.items() if k[0] == 3)
    assert d3 == [(1, "elder"), (2, "cherry"), (3, "durian")]


def test_tfidf_topk_truncates(docs):
    assert tfidf_topk(docs, k=1).groupBy("doc_id").count() \
        .filter(F.col("count") != 1).count() == 0


def test_bm25_hand_computed(docs):
    q = ["apple", "elder", "durian"]
    got = {r.doc_id: r for r in bm25_scores(docs, q).collect()}
    assert set(got) == {0, 2, 3}
    dls = {0: 3, 1: 2, 2: 4, 3: 3}
    avgdl = sum(dls.values()) / 4.0

    def contrib(tf, df, dl):
        idf = math.log(1.0 + (4 - df + 0.5) / (df + 0.5))
        c = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        return math.floor(c * 1e6 + 0.5)

    # df over matching docs: apple 2 (docs 0,2), durian 2 (2,3), elder 1 (3)
    assert got[0].score == contrib(2, 2, 3) / 1e6
    assert got[0].n_hit_terms == 1
    assert got[2].score == (contrib(3, 2, 4) + contrib(1, 2, 4)) / 1e6
    assert got[2].n_hit_terms == 2 and got[2].dl == 4
    assert got[3].score == (contrib(1, 2, 3) + contrib(1, 1, 3)) / 1e6
    assert got[3].n_hit_terms == 2 and got[3].dl == 3
    # doc 3's rare elder hit outranks doc 0's two common apples
    top = bm25_topk(docs, q, k=3).collect()
    assert [r.doc_id for r in top] == sorted(
        got, key=lambda d: (-got[d].score, d))[:3]


def test_bm25_empty_query_raises(docs):
    with pytest.raises(ValueError):
        bm25_scores(docs, [])


def test_bm25_plan_filters_before_shuffle(docs):
    """The query-term isin filter must land below the first exchange —
    only query-term postings may shuffle — and top-k must compile to
    TakeOrderedAndProject, not a global Sort exchange."""
    plan = plan_of(lambda: bm25_topk(docs, ["apple"], k=3), "simple")
    assert "TakeOrderedAndProject" in plan
    pre_shuffle = plan[plan.index("Exchange"):]
    assert "apple" in pre_shuffle  # the literal rides below every exchange


def test_sample_hash_membership_and_no_shuffle(docs):
    kept = sorted(r.doc_id for r in sample_hash(docs, rate=0.5).collect())
    want = [i for i, _, _ in CORPUS if (i * _KNUTH) % _MOD < (1 << 31)]
    assert kept == want
    plan = plan_of(lambda: sample_hash(docs, rate=0.5), "simple")
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        sample_hash(docs, rate=1.5)


def test_sample_hash_complement_is_exact_partition(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    keep = {r.doc_id for r in sample_hash(df, 0.3).collect()}
    hold = {r.doc_id for r in sample_hash(df, 0.3, complement=True).collect()}
    assert keep | hold == set(range(1000)) and not (keep & hold)


def test_sample_hash_composes_by_min_rate(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sample_hash(sample_hash(df, 0.5), 0.2).collect()
    b = sample_hash(df, 0.2).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    # rate lands near the target by hash uniformity
    assert 0.15 < len(b) / 2000 < 0.25


def test_sample_stratified_quota_and_prefix(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"))
    s5 = sample_stratified(df, 5)
    counts = {r.source: r["count"] for r in s5.groupBy("source").count().collect()}
    assert counts == {"s0": 5, "s1": 5, "s2": 5}
    # extensible: the rank<=3 prefix IS the 3-sample
    s3 = sample_stratified(df, 3)
    assert sorted((r.doc_id, r.draw_rank) for r in s3.collect()) == \
        sorted((r.doc_id, r.draw_rank)
               for r in s5.filter(F.col("draw_rank") <= 3).collect())
    # quota caps at the stratum size
    tiny = sample_stratified(df.filter(F.col("doc_id") < 4), 99)
    assert tiny.count() == 4
    with pytest.raises(ValueError):
        sample_stratified(df, 0)


def test_sampling_is_run_deterministic(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"))
    a = sorted(r.doc_id for r in sample_stratified(df, 4).collect())
    b = sorted(r.doc_id for r in sample_stratified(df, 4).collect())
    assert a == b
    # and the draw is hash-scattered, not a head(): ranks 1..4 of stratum
    # "0" are not simply the 4 smallest ids
    first = [r.doc_id for r in sample_stratified(df, 4)
             .filter(F.col("source") == "0").collect()]
    assert sorted(first) != sorted(
        r.doc_id for r in df.filter(F.col("source") == "0").limit(4).collect())


def test_knuth_hash_matches_closed_form():
    ids = np.arange(0, 1000, dtype=np.int64)
    hv = (ids * _KNUTH) % _MOD
    # spot invariants: full 32-bit spread, no tiny-cycle degeneracy
    assert hv.min() >= 0 and hv.max() < _MOD
    assert len(np.unique(hv)) == len(ids)


def test_sample_mixture_composition_and_determinism(spark):
    from yatsm_spark.operators.sampling import sample_mixture

    rows = [(i, f"s{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_mixture(df, {"s0": 0.6, "s1": 0.3, "s2": 0.1}, 600)
    pdf = out.toPandas()
    # absent stratum dropped entirely
    assert set(pdf["source"]) <= {"s0", "s1", "s2"}
    # composition tracks the recipe (hash uniformity, generous band)
    got = pdf.groupby("source").size()
    assert abs(got.get("s0", 0) - 360) < 80
    assert abs(got.get("s1", 0) - 180) < 60
    assert abs(got.get("s2", 0) - 60) < 40
    # bit-deterministic and partition-invariant
    a = sorted(pdf["doc_id"])
    b = sorted(r.doc_id for r in
               sample_mixture(df.repartition(19), {"s0": 0.6, "s1": 0.3,
                                                   "s2": 0.1}, 600).collect())
    assert a == b


def test_sample_mixture_is_extensible_by_total(spark):
    from yatsm_spark.operators.sampling import sample_mixture

    rows = [(i, f"s{i % 2}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    small = {r.doc_id for r in
             sample_mixture(df, {"s0": 0.5, "s1": 0.5}, 200).collect()}
    large = {r.doc_id for r in
             sample_mixture(df, {"s0": 0.5, "s1": 0.5}, 800).collect()}
    assert small <= large  # same-hash thresholds nest


def test_sample_mixture_undersupplied_stratum_kept_whole(spark):
    from yatsm_spark.operators.sampling import sample_mixture

    rows = [(i, "big") for i in range(1000)] + \
           [(10_000 + i, "tiny") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_mixture(df, {"big": 0.5, "tiny": 0.5}, 400).toPandas()
    tiny = out[out.source == "tiny"]
    assert len(tiny) == 5 and (tiny.mix_rate == 1.0).all()


def test_sample_mixture_contract_errors(spark):
    import pytest

    from yatsm_spark.operators.sampling import sample_mixture

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="positive"):
        sample_mixture(df, {"a": -0.5}, 10)
    with pytest.raises(ValueError, match="non-empty"):
        sample_mixture(df, {}, 10)
    with pytest.raises(ValueError, match="total"):
        sample_mixture(df, {"a": 1.0}, 0)
    # weights naming only absent strata -> empty frame, stable schema
    out = sample_mixture(df, {"zzz": 1.0}, 10)
    assert out.count() == 0 and "mix_rate" in out.columns


def test_global_shuffle_matches_local_order(spark):
    """Positions are contiguous 0..n-1 and follow (knuth_hash, id) —
    verified against a locally computed total order, with enough
    partitions that the broadcast-offset arithmetic is actually
    exercised."""
    from yatsm_spark.operators.sampling import global_shuffle

    ids = list(range(211))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.shuffle_pos
           for r in global_shuffle(df, seed=7, n_parts=8).collect()}
    want_order = sorted(ids, key=lambda i: (((i + 7) * 2654435761) % 4294967296, i))
    assert got == {i: p for p, i in enumerate(want_order)}


def test_global_shuffle_deterministic_and_seeded(spark):
    from yatsm_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
    a = sorted(map(tuple, global_shuffle(df, seed=1, n_parts=5).collect()))
    b = sorted(map(tuple, global_shuffle(df, seed=1, n_parts=3).collect()))
    c = sorted(map(tuple, global_shuffle(df, seed=2, n_parts=5).collect()))
    assert a == b          # n_parts is a physical knob, not a semantic one
    assert a != c          # seed changes the order


def test_global_shuffle_plan_has_no_global_window(spark):
    """The scale contract: a range exchange, never a single-partition
    global sort window."""
    from yatsm_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    plan = plan_of(lambda: global_shuffle(df, n_parts=4), "simple").lower()
    # the rank window is PARTITIONED by the range-partition id (parallel),
    # and nothing in the plan collapses to a single partition
    assert "windowspecdefinition(_part" in plan
    assert "singlepartition" not in plan


def test_weighted_sample_favors_heavy_weights(spark):
    import pandas as pd

    from yatsm_spark.operators.sampling import weighted_sample

    # 50 heavy docs (w=1000) vs 450 light (w=1): top-50 should be
    # overwhelmingly heavy under any seed
    pdf = pd.DataFrame({
        "doc_id": range(500),
        "w": [1000] * 50 + [1] * 450,
    })
    out = weighted_sample(spark.createDataFrame(pdf), "w", k=50, seed=1)
    kept = [r["doc_id"] for r in out.filter("kept").collect()]
    assert len(kept) == 50
    heavy = sum(1 for d in kept if d < 50)
    assert heavy >= 40  # expectation ~49; wide margin for the fixed seed


def test_weighted_sample_extensible_and_partition_invariant(spark):
    import pandas as pd

    from yatsm_spark.operators.sampling import weighted_sample

    pdf = pd.DataFrame({"doc_id": range(200),
                        "w": [(i % 7) + 1 for i in range(200)]})
    sdf = spark.createDataFrame(pdf)
    a = {r["doc_id"]: r["draw_rank"]
         for r in weighted_sample(sdf, "w", k=30, seed=5).collect()}
    b = {r["doc_id"]: r["draw_rank"]
         for r in weighted_sample(sdf, "w", k=80, seed=5,
                                  n_parts=7).collect()}
    # ranks identical whatever k or partition count; k only moves the cut
    assert a == b
    ranks = sorted(a.values())
    assert ranks == list(range(1, 201))  # contiguous 1..n


def test_weighted_sample_zero_weight_excluded(spark):
    import pandas as pd

    from yatsm_spark.operators.sampling import weighted_sample

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "w": [5, 0, -2]})
    out = weighted_sample(spark.createDataFrame(pdf), "w", k=3).collect()
    assert [r["doc_id"] for r in out] == [1]
