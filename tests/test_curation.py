"""Decontamination, chunking, and next-fit packing operators.

Hand-computed values on tiny corpora (the semantics), plan-shape
assertions (broadcast bench side, shuffle-free chunking), and the fold
invariants packing promises (budget respected, oversized doc isolated,
offsets contiguous, shards independent).
"""

import pytest
from pyspark.sql import functions as F

from tests.test_plans import plan_of
from yatsm_spark.operators.decontam import decontaminate
from yatsm_spark.operators.packing import chunk_documents, pack_documents

TRAIN = [
    (0, "the quick brown fox jumps over the lazy dog", "s0"),
    (1, "pack my box with five dozen liquor jugs", "s0"),
    (2, "the quick brown cat sleeps", "s1"),
    (3, "totally unrelated words here only", "s1"),
]
BENCH = [
    (100, "we saw the quick brown fox yesterday", "eval"),
    (101, "five dozen liquor jugs arrived", "eval"),
]


@pytest.fixture(scope="module")
def train(spark):
    return spark.createDataFrame(
        TRAIN, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def bench(spark):
    return spark.createDataFrame(
        BENCH, "doc_id long, text string, source string")


def test_decontaminate_hand_computed(train, bench):
    got = {r.doc_id: r for r in decontaminate(train, bench, n=3).collect()}
    assert set(got) == {0, 1, 2, 3}
    # doc 0 shares "the quick brown" + "quick brown fox" with bench 100
    assert got[0].n_contaminated_ngrams == 2 and got[0].contaminated
    # doc 1 shares "five dozen liquor" + "dozen liquor jugs" with bench 101
    assert got[1].n_contaminated_ngrams == 2 and got[1].contaminated
    # doc 2 shares only "the quick brown"
    assert got[2].n_contaminated_ngrams == 1 and got[2].contaminated
    assert got[3].n_contaminated_ngrams == 0 and not got[3].contaminated


def test_decontaminate_counts_distinct_ngrams_once(spark, bench):
    rep = spark.createDataFrame(
        [(7, "the quick brown " * 5 + "fox", "s0")],
        "doc_id long, text string, source string")
    # "the quick brown" recurs 5x in doc 7 but counts once
    row = decontaminate(rep, bench, n=3).collect()[0]
    grams_in_bench = {"the quick brown", "quick brown the",
                      "brown the quick"} & {
        "we saw the", "saw the quick", "the quick brown",
        "quick brown fox", "brown fox yesterday"}
    assert row.n_contaminated_ngrams >= len(grams_in_bench)
    one = spark.createDataFrame(
        [(8, "the quick brown the quick brown", "s0")],
        "doc_id long, text string, source string")
    got = {r.doc_id: r.n_contaminated_ngrams
           for r in decontaminate(one, bench, n=3).collect()}
    assert got[8] == 1  # only "the quick brown" matches, counted once


def test_decontaminate_short_docs_clean(spark, bench):
    shorty = spark.createDataFrame(
        [(9, "the quick", "s0")], "doc_id long, text string, source string")
    row = decontaminate(shorty, bench, n=3).collect()[0]
    assert row.n_contaminated_ngrams == 0 and not row.contaminated
    with pytest.raises(ValueError):
        decontaminate(shorty, bench, n=0)


def test_decontaminate_bench_side_broadcast(train, bench):
    plan = plan_of(lambda: decontaminate(train, bench, n=3), "simple")
    assert "BroadcastHashJoin" in plan


def test_chunk_hand_computed(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d e f g", "s0"), (1, "x", "s0"), (2, "", "s0")],
        "doc_id long, text string, source string")
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.start_token, r.n_tokens, r.chunk_text)
         for r in chunk_documents(docs, chunk_tokens=3, stride=2).collect()))
    assert rows == [
        (0, 0, 1, 3, "a b c"),
        (0, 1, 3, 3, "c d e"),
        (0, 2, 5, 3, "e f g"),
        (0, 3, 7, 1, "g"),       # tail window
        (1, 0, 1, 1, "x"),
    ]                            # empty doc 2 emits nothing
    # no-overlap default: stride = chunk
    nro = sorted((r.chunk_idx, r.chunk_text)
                 for r in chunk_documents(docs, chunk_tokens=4).collect()
                 if r.doc_id == 0)
    assert nro == [(0, "a b c d"), (1, "e f g")]
    with pytest.raises(ValueError):
        chunk_documents(docs, 0)
    with pytest.raises(ValueError):
        chunk_documents(docs, 3, stride=4)


def test_chunk_plan_is_shuffle_free(spark):
    docs = spark.createDataFrame(
        [(0, "a b c", "s0")], "doc_id long, text string, source string")
    plan = plan_of(lambda: chunk_documents(docs, 8), "simple")
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_pack_next_fit_hand_computed(spark):
    # dl: 0->4, 1->3, 2->6(own bin: 4+3=7<=8, +6 overflows), 3->8, 4->2
    docs = spark.createDataFrame(
        [(0, "a a a a", "s0"), (1, "b b b", "s0"), (2, "c c c c c c", "s0"),
         (3, "d d d d d d d d", "s0"), (4, "e e", "s0")],
        "doc_id long, text string, source string")
    got = {r.doc_id: (r.bin_idx, r.bin_offset, r.dl)
           for r in pack_documents(docs, budget_tokens=8).collect()}
    assert got == {0: (0, 0, 4), 1: (0, 4, 3), 2: (1, 0, 6),
                   3: (2, 0, 8), 4: (3, 0, 2)}


def test_pack_oversized_doc_isolated(spark):
    docs = spark.createDataFrame(
        [(0, "w " * 20, "s0"), (1, "v v", "s0")],
        "doc_id long, text string, source string")
    got = {r.doc_id: (r.bin_idx, r.bin_offset)
           for r in pack_documents(docs, budget_tokens=8).collect()}
    assert got[0] == (0, 0) and got[1] == (1, 0)


def test_pack_invariants_and_shards(spark):
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(
            F.lit("t"), (F.col("id") % 13 + 1).cast("int"))).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"))
    out = pack_documents(docs, budget_tokens=30, n_shards=4).collect()
    assert len(out) == 200
    by_bin = {}
    for r in out:
        by_bin.setdefault((r.source, r.shard, r.bin_idx), []).append(r)
    for rows in by_bin.values():
        rows.sort(key=lambda r: r.doc_id)
        fill = 0
        for r in rows:
            assert r.bin_offset == fill
            fill += r.dl
        # a bin only exceeds budget when it holds a single oversized doc
        assert fill <= 30 or len(rows) == 1
    # determinism
    again = pack_documents(docs, budget_tokens=30, n_shards=4).collect()
    assert sorted((r.doc_id, r.bin_idx, r.bin_offset) for r in out) == \
        sorted((r.doc_id, r.bin_idx, r.bin_offset) for r in again)
    with pytest.raises(ValueError):
        pack_documents(docs, 0)
    with pytest.raises(ValueError):
        pack_documents(docs, 8, n_shards=0)


def test_pack_with_external_lengths(spark):
    # lengths table overrides the whitespace measure; fold is unchanged
    docs = spark.createDataFrame(
        [(0, "ignored", "s0"), (1, "ignored", "s0"), (2, "ignored", "s0"),
         (3, "ignored", "s0")],
        "doc_id long, text string, source string")
    lengths = spark.createDataFrame(
        [(0, 4), (1, 3), (2, 6), (3, 0)], "doc_id long, dl long")
    got = {r.doc_id: (r.bin_idx, r.bin_offset, r.dl)
           for r in pack_documents(docs, budget_tokens=8,
                                   lengths=lengths).collect()}
    # doc 3 excluded (dl=0); 4+3 fits, 6 opens a new bin
    assert got == {0: (0, 0, 4), 1: (0, 4, 3), 2: (1, 0, 6)}


def test_funnel_semantics(spark):
    """Ordered-funnel edge semantics: strict ordering (same-ts doesn't
    chain), horizon cutoff (inclusive), earliest-event determinism."""
    import datetime as dt

    from yatsm_spark.operators.sessionize import funnel

    t0 = dt.datetime(2026, 1, 1)

    def ev(u, typ, s):
        return (s * 1000 + u, t0 + dt.timedelta(seconds=s), u, typ,
                0.0, None)

    rows = [
        # u1: clean A -> B -> C inside horizons
        ev(1, "A", 0), ev(1, "B", 10), ev(1, "C", 20),
        # u2: B exactly AT ts of A (strict > excludes it), later B ok
        ev(2, "A", 0), ev(2, "B", 0), ev(2, "B", 5),
        # u3: B beyond the horizon
        ev(3, "A", 0), ev(3, "B", 200),
        # u4: C before B -> chain stops at B
        ev(4, "A", 0), ev(4, "C", 5), ev(4, "B", 10),
        # u5: never does A; B/C irrelevant
        ev(5, "B", 0), ev(5, "C", 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {r["step_ord"]: r
           for r in funnel(df, ["A", "B", "C"], horizon_s=100).collect()}
    assert (out[1]["n_users"], out[2]["n_users"], out[3]["n_users"]) \
        == (4, 3, 1)
    assert out[1]["conv_rate"] == 1.0
    assert out[2]["conv_rate"] == 0.75
    assert out[3]["conv_rate"] == 0.25
    assert [out[k]["step"] for k in (1, 2, 3)] == ["A", "B", "C"]
    # horizon is inclusive at exactly horizon_s
    rows2 = [ev(9, "A", 0), ev(9, "B", 100)]
    df2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string")
    out2 = {r["step_ord"]: r["n_users"]
            for r in funnel(df2, ["A", "B"], horizon_s=100).collect()}
    assert out2[2] == 1


def test_cohort_retention_semantics(spark):
    import datetime as dt

    from yatsm_spark.operators.sessionize import cohort_retention

    day = 86400

    def ev(u, d):
        return (u * 100 + d, dt.datetime(2026, 1, 1)
                + dt.timedelta(days=d), u, "view", 0.0, None)

    # period = 2 days; u1 active periods 0,1,2; u2 joins period 1,
    # active 1,2; u3 only period 0
    rows = [ev(1, 0), ev(1, 2), ev(1, 4), ev(1, 4),
            ev(2, 2), ev(2, 5), ev(3, 1)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {(r["cohort_start"], r["period_offset"]): r
           for r in cohort_retention(df, period_s=2 * day).collect()}
    # cohort of u1+u3 (period 0): size 2; offsets 0 (both), 1 (u1), 2 (u1)
    # cohort of u2 (period 1): size 1; offsets 0 and 1
    sizes = {k: v["n_cohort"] for k, v in out.items()}
    actives = {k[1]: v["n_active"] for k, v in out.items()
               if v["n_cohort"] == 2}
    assert actives == {0: 2, 1: 1, 2: 1}
    rates = {k[1]: v["retention_rate"] for k, v in out.items()
             if v["n_cohort"] == 2}
    assert rates == {0: 1.0, 1: 0.5, 2: 0.5}
    assert {v["n_active"] for k, v in out.items()
            if v["n_cohort"] == 1} == {1}
    # duplicate same-period events count a user once
    assert all(v["n_active"] <= v["n_cohort"] for v in out.values())


def test_decontaminate_fuzzy_hand_computed(train, bench):
    from yatsm_spark.operators.decontam import decontaminate_fuzzy

    got = {r.doc_id: r for r in
           decontaminate_fuzzy(train, bench, shingle_n=3,
                               threshold=0.2).collect()}
    assert len(got) == 4
    # doc0 vs 100: inter {the quick brown, quick brown fox}=2, |7|+|5|-2=10
    assert got[0].contaminated and got[0].matched_bench_id == 100
    assert got[0].jaccard == pytest.approx(0.2)
    # doc1 vs 101: inter 2, 6+3-2=7
    assert got[1].contaminated and got[1].matched_bench_id == 101
    assert got[1].jaccard == pytest.approx(round(2 / 7, 6))
    # doc2 vs 100: jaccard 1/7 < 0.2 -> clean under the fuzzy threshold
    assert not got[2].contaminated and got[2].matched_bench_id is None
    assert got[2].jaccard == 0.0
    assert not got[3].contaminated


def test_decontaminate_fuzzy_threshold_gates(train, bench):
    from yatsm_spark.operators.decontam import decontaminate_fuzzy

    got = {r.doc_id: r for r in
           decontaminate_fuzzy(train, bench, shingle_n=3,
                               threshold=0.1).collect()}
    # at 0.1 the doc2/100 pair (1/7 ~ 0.142857) now flags
    assert got[2].contaminated and got[2].matched_bench_id == 100
    assert got[2].jaccard == pytest.approx(round(1 / 7, 6))


def test_decontaminate_fuzzy_bench_side_broadcast(train, bench):
    from yatsm_spark.operators.decontam import decontaminate_fuzzy

    plan = plan_of(lambda: decontaminate_fuzzy(train, bench), "simple")
    assert "BroadcastHashJoin" in plan


def test_curate_training_set_flag_consistency(spark):
    """kept must be exactly lm_keep AND dup_keep AND NOT contaminated,
    over the real Knuth split (both sides non-empty for ids 0..39)."""
    from yatsm_spark.operators.curate import curate_training_set

    bench_ids = {i for i in range(40)
                 if (i * 2654435761) % 4294967296 < 214748364}
    assert bench_ids and len(bench_ids) < 40
    docs = spark.createDataFrame(
        [(i, f"common words here tail{i % 7} more filler text") for i in range(40)],
        "doc_id long, text string")
    rows = curate_training_set(docs, min_avg_logprob=-99.0).collect()
    assert len(rows) == 40 - len(bench_ids)
    for r in rows:
        assert r.doc_id not in bench_ids
        assert r.kept == (r.lm_keep and r.dup_keep
                          and not r.fuzzy_contaminated)
        assert r.avg_logprob is not None and r.lm_keep
