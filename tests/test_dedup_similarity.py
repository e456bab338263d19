"""Dedup / ANN operator invariants that the driver oracles can't see:
degenerate-bucket caps (the 100 TB quadratic-blowup guard) and Jaccard
cap-consistency (sizes and intersections on the same shingle universe)."""

import pytest
from pyspark.sql import Row, functions as F

from tests.test_plans import plan_of
from yatsm_spark.operators.dedup import (
    minhash_candidates,
    ngram_jaccard_pairs,
    word_shingles,
)
from yatsm_spark.operators.similarity import lsh_candidate_pairs


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_minhash_degenerate_band_is_capped(spark):
    # 40 byte-identical docs share every band -> one degenerate band bucket.
    # With the cap below the bucket size, NO pair among them is emitted;
    # a small distinct near-dup pair elsewhere still pairs normally.
    boiler = [(i, "the same boilerplate footer text repeated everywhere") for i in range(40)]
    pair = [(100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "alpha beta gamma delta epsilon zeta eta iota")]
    docs = _docs(spark, boiler + pair)
    capped = minhash_candidates(docs, max_band_size=10).collect()
    ids = {(r.doc_a, r.doc_b) for r in capped}
    assert all(a >= 100 and b >= 100 for a, b in ids), ids
    # sanity: uncapped, the boilerplate group alone yields C(40,2)=780 pairs
    uncapped = minhash_candidates(docs, max_band_size=10_000).count()
    assert uncapped >= 780


def test_lsh_degenerate_bucket_is_capped(spark):
    # 30 identical embeddings land in one bucket; cap 10 drops it entirely.
    same = [Row(vec_id=i, embedding=[1.0, 2.0, 3.0, 4.0]) for i in range(30)]
    other = [Row(vec_id=100, embedding=[-1.0, 5.0, -3.0, 2.0]),
             Row(vec_id=101, embedding=[-1.0, 5.1, -3.0, 2.0])]
    emb = spark.createDataFrame(same + other)
    capped = lsh_candidate_pairs(emb, n_planes=8, max_bucket_size=10).collect()
    assert all(r.id_a >= 100 and r.id_b >= 100 for r in capped), capped
    uncapped = lsh_candidate_pairs(emb, n_planes=8, max_bucket_size=10_000).count()
    assert uncapped >= 30 * 29 // 2


def test_jaccard_sizes_use_capped_universe(spark):
    # One stop-shingle ("x y z") appears in every doc and is dropped by the
    # cap; J must be the exact Jaccard of the CAPPED shingle sets, which is
    # recomputed here from word_shingles + the same cap.
    rows = [
        (0, "x y z a b c d e"),
        (1, "x y z a b c d f"),
        (2, "x y z q r s t u"),
        (3, "x y z q r s t v"),
    ]
    docs = _docs(spark, rows)
    cap = 3  # "x y z" has df=4 > 3 -> dropped
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0,
                                     max_shingle_freq=cap).collect()
    }
    # expected: exact Jaccard over capped sets, computed independently
    sh = word_shingles(docs).collect()
    sets = {}
    for r in sh:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    df = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    capped = {d: {g for g in s if df[g] <= cap} for d, s in sets.items()}
    for (a, b), j in got.items():
        inter = len(capped[a] & capped[b])
        union = len(capped[a] | capped[b])
        assert j == pytest.approx(inter / union, abs=1e-6), (a, b)
    # the pairs sharing only the stop-shingle must NOT appear at all
    assert (0, 2) not in got and (1, 3) not in got


def _emb_corpus(spark, n=120, dim=16):
    # deterministic synthetic embeddings with mild cluster structure
    import math

    rows = []
    for i in range(n):
        base = [math.cos(0.7 * (i % 8) + 0.13 * d) for d in range(dim)]
        vec = [b + 0.05 * math.sin(1.3 * i + d) for d, b in enumerate(base)]
        rows.append(Row(vec_id=i, embedding=[float(x) for x in vec]))
    return spark.createDataFrame(rows)


def test_ivf_full_probe_equals_brute_force(spark):
    # nprobe == n_centroids probes every inverted list, so IVF must return
    # the brute-force cosine_topk result EXACTLY (same rounding, same
    # tie-break) — pins assignment/probe/candidate plumbing end to end.
    from yatsm_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _emb_corpus(spark)
    qids = [3, 17, 42]
    brute = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
             for r in cosine_topk(emb, qids, k=5).collect()}
    full = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
            for r in ivf_topk(emb, qids, k=5, n_centroids=8, nprobe=8).collect()}
    assert full == brute


def test_ivf_partial_probe_recall(spark):
    # nprobe=2 of 8 lists: every result must still be a TRUE cosine
    # neighbor drawn from probed lists, and recall@5 on this clustered
    # corpus should be high (the corpus clusters align with the codebook).
    from yatsm_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _emb_corpus(spark)
    qids = [3, 17, 42]
    brute = cosine_topk(emb, qids, k=5).collect()
    approx = ivf_topk(emb, qids, k=5, n_centroids=8, nprobe=2).collect()
    bset = {(r.query_id, r.neighbor_id) for r in brute}
    aset = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(aset & bset) / len(bset)
    assert recall >= 0.6, recall
    # sims reported by IVF are exact cosines (not approximations)
    bsim = {(r.query_id, r.neighbor_id): r.sim for r in brute}
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in bsim:
            assert r.sim == bsim[key]


def test_ivf_assign_covers_corpus_once(spark):
    from yatsm_spark.operators.similarity import ivf_assign

    emb = _emb_corpus(spark)
    a = ivf_assign(emb, n_centroids=8).collect()
    assert len(a) == 120
    assert len({r.vec_id for r in a}) == 120          # exactly one cluster each
    assert {r.cluster for r in a} <= set(range(8))    # clusters are centroid ids


def test_embedding_near_dups_exact_cosine_and_threshold(spark):
    # Two identical vectors (sim 1.0) must pair; an orthogonal-ish vector
    # must not cross the threshold even when it shares a bucket.
    from yatsm_spark.operators.similarity import embedding_near_dups

    rows = [
        Row(vec_id=0, embedding=[1.0, 2.0, 3.0, 4.0]),
        Row(vec_id=1, embedding=[1.0, 2.0, 3.0, 4.0]),     # exact dup of 0
        Row(vec_id=2, embedding=[1.0, 2.0, 3.0, 4.01]),    # near dup
        Row(vec_id=3, embedding=[4.0, -3.0, 2.0, -1.0]),   # far
    ]
    out = {(r.id_a, r.id_b): r.sim
           for r in embedding_near_dups(spark.createDataFrame(rows),
                                        threshold=0.9).collect()}
    assert out.get((0, 1)) == 1.0
    assert (0, 2) in out and out[(0, 2)] > 0.999
    assert all(3 not in pair for pair in out)


def test_broadcast_assignment_bit_equals_literal(spark):
    # Round-3 VERDICT wrong #1 fix: the broadcast-numpy mapInPandas path
    # must be BIT-identical to the literal-codebook Catalyst expressions.
    # kernel/vecmath.py reproduces Catalyst's sequential fold, rounding and
    # argmax run in shared Catalyst code, so every column — including the
    # raw csims doubles — must match exactly.
    from yatsm_spark.operators.similarity import ivf_assign, ivf_index, ivf_topk

    emb = _emb_corpus(spark)
    lit_idx, _ = ivf_index(emb, n_centroids=16, method="literal")
    bro_idx, _ = ivf_index(emb, n_centroids=16, method="broadcast")
    cols = ["vec_id", "v", "nrm", "csims", "cluster"]
    lit_rows = lit_idx.select(*cols).orderBy("vec_id").collect()
    bro_rows = bro_idx.select(*cols).orderBy("vec_id").collect()
    assert lit_rows == bro_rows

    qids = [3, 17, 42]
    lit_t = ivf_topk(emb, qids, k=5, n_centroids=16, nprobe=4,
                     method="literal").orderBy("query_id", "rank").collect()
    bro_t = ivf_topk(emb, qids, k=5, n_centroids=16, nprobe=4,
                     method="broadcast").orderBy("query_id", "rank").collect()
    assert lit_t == bro_t


def test_ivf_auto_method_thresholds(spark):
    # auto picks literal below LITERAL_CODEBOOK_MAX_DOUBLES and broadcast
    # above; both produce identical assignments either way (pinned above),
    # so just assert the plan shape differs: the broadcast path contains a
    # Python (ArrowEvalPython/MapInPandas) stage, the literal path none.
    from yatsm_spark.operators import similarity as S

    emb = _emb_corpus(spark)  # dim 16
    plan_small = plan_of(lambda: S.ivf_index(emb, n_centroids=8, method="auto")[0],
                         "simple")                                 # 128 doubles
    assert "MapInPandas" not in plan_small

    old = S.LITERAL_CODEBOOK_MAX_DOUBLES
    S.LITERAL_CODEBOOK_MAX_DOUBLES = 64
    try:
        plan_big = plan_of(lambda: S.ivf_index(emb, n_centroids=8, method="auto")[0],
                           "simple")                               # 128 > 64
        assert "MapInPandas" in plan_big
    finally:
        S.LITERAL_CODEBOOK_MAX_DOUBLES = old


def test_ivf_codebook_guards(spark):
    # Round-3 ADVICE (similarity.py:86): empty / sparse / duplicate
    # codebooks must fail loudly instead of building degenerate plans.
    import pytest

    from yatsm_spark.operators.similarity import ivf_index

    emb = _emb_corpus(spark)
    no_low_ids = emb.filter("vec_id >= 50")
    with pytest.raises(ValueError, match="empty"):
        ivf_index(no_low_ids, n_centroids=8)
    sparse = emb.filter("vec_id != 3")  # ids 0..7 minus one
    with pytest.raises(ValueError, match="expected 8"):
        ivf_index(sparse, n_centroids=8)
    dup_cb = [(0, [1.0] * 16, 4.0), (0, [2.0] * 16, 8.0)]
    with pytest.raises(ValueError, match="duplicate"):
        ivf_index(emb, codebook=dup_cb)


def test_kmeans_trained_codebook_improves_partition_balance(spark):
    # Lloyd's must (a) converge deterministically, (b) be consumable by
    # ivf_topk, and (c) assign every sample member it counted.
    from yatsm_spark.operators.similarity import ivf_topk, train_kmeans

    emb = _emb_corpus(spark)
    cb1 = train_kmeans(emb, n_centroids=4, n_iters=3, seed=0)
    cb2 = train_kmeans(emb, n_centroids=4, n_iters=3, seed=0)
    assert cb1 == cb2  # bit-deterministic across runs
    assert sum(n for _, _, _, n in cb1) == 120  # every row assigned once
    res = ivf_topk(emb, [3, 17], k=3, n_centroids=4, nprobe=4,
                   method="broadcast",
                   codebook=[(c, v, n) for c, v, n, _ in cb1])
    assert res.count() == 6


def test_kmeans_sample_mod_trains_on_residue_class(spark):
    # Systematic sample: only vec_id % 3 == 1 rows may contribute members.
    from yatsm_spark.operators.similarity import train_kmeans

    emb = _emb_corpus(spark)
    cb = train_kmeans(emb, n_centroids=4, n_iters=2, seed=1, sample_mod=3)
    assert sum(n for _, _, _, n in cb) == len([i for i in range(120) if i % 3 == 1])


# ---------------------------------------------------------------------------
# connected components (star contraction) + dedup decision table


def _cc(spark, edges, max_iters=25):
    from yatsm_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = connected_components(df, max_iters=max_iters).collect()
    return {r.node: r.component_id for r in out}


def test_cc_chain_converges_fast(spark):
    # A 64-node duplicate CHAIN: min-label propagation would need 63
    # rounds; star contraction must finish well inside log^2-ish budget.
    edges = [(i, i + 1) for i in range(63)]
    got = _cc(spark, edges, max_iters=10)
    assert got == {i: 0 for i in range(64)}


def test_cc_cliques_bridges_and_reversed_pairs(spark):
    edges = (
        [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]  # clique
        + [(23, 20), (22, 20), (21, 23)]          # reversed/unsorted pairs
        + [(13, 20)]                              # bridge merges both
        + [(40, 41), (41, 40), (40, 40)]          # dup + self-loop noise
        + [(50, 51)]
    )
    got = _cc(spark, edges)
    assert {got[i] for i in range(10, 14)} == {10}
    assert {got[i] for i in range(20, 24)} == {10}  # bridged into the clique
    assert got[40] == got[41] == 40 and got[50] == got[51] == 50
    assert 44 not in got  # only nodes present in pairs are labeled


def test_cc_empty_and_single_pair(spark):
    from yatsm_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0
    assert _cc(spark, [(7, 3)]) == {3: 3, 7: 3}


def test_cc_ansi_mode_no_overflow(spark):
    # Round-5 driver repro: the convergence fingerprint used
    # sum(xxhash64(u,v)), which overflows int64 under the Spark 4 default
    # ANSI session (ARITHMETIC_OVERFLOW) on a few hundred edges. bit_xor
    # is order-insensitive and closed over int64. Flip ANSI on (runtime
    # conf) and run a graph big enough that a signed sum of ~uniform
    # 64-bit hashes would certainly wrap.
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        edges = [(i, i + 1) for i in range(500)]
        got = _cc(spark, edges, max_iters=10)
        assert got == {i: 0 for i in range(501)}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_dedup_groups_labels_full_corpus(spark):
    from pyspark.sql import Row

    from yatsm_spark.operators.dedup import dedup_groups

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(8)])
    pairs = spark.createDataFrame([(0, 5), (5, 6), (2, 3)], "doc_a long, doc_b long")
    out = {r.doc_id: (r.component_id, r.is_canonical)
           for r in dedup_groups(docs, pairs).collect()}
    assert out == {0: (0, True), 1: (1, True), 2: (2, True), 3: (2, False),
                   4: (4, True), 5: (0, False), 6: (0, False), 7: (7, True)}


def test_semdedup_keeps_least_prototypical_of_dup_pair(spark):
    """Two near-identical vectors + two distinct ones, one cluster: the
    dup pair loses exactly its more-centroid-similar member; the distinct
    vectors survive."""
    from yatsm_spark.operators.similarity import semdedup

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.001, 0.0, 0.0]),   # ~dup of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    out = semdedup(spark.createDataFrame(rows), n_centroids=1, n_iters=1,
                   threshold=0.99).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(by_id) == 4 and all(r.cluster == 0 for r in out)
    dup = sorted([by_id[0], by_id[1]], key=lambda r: (r.cent_sim, r.vec_id))
    assert dup[0].kept and not dup[1].kept  # loser = higher cent_sim
    assert by_id[2].kept and by_id[3].kept


def test_semdedup_cluster_size_guard_raises(spark):
    from yatsm_spark.operators.similarity import semdedup

    rows = [Row(vec_id=i, embedding=[1.0, float(i)]) for i in range(5)]
    with pytest.raises(ValueError, match="max_cluster_size"):
        semdedup(spark.createDataFrame(rows), n_centroids=1, n_iters=1,
                 max_cluster_size=2)


def test_dup_ngram_spans_interval_merge_and_counts(spark):
    """Known dup 3-grams across docs and within one doc; covered_tokens
    must interval-merge overlapping spans and not double-count."""
    from yatsm_spark.operators.dedup import dup_ngram_spans

    docs = _docs(spark, [
        (0, "a b c d e f"),      # dup grams "a b c"@0, "b c d"@1 -> [0,4)
        (1, "x a b c d y"),      # same grams @1,@2 -> [1,5)
        (2, "q r s t u v"),      # clean
        (3, "m n o p m n o"),    # "m n o" @0 and @4 -> [0,3)+[4,7)
    ])
    out = {r.doc_id: r for r in dup_ngram_spans(docs, n=3, min_count=2).collect()}
    assert (out[0].n_grams, out[0].n_dup_grams, out[0].covered_tokens) == (4, 2, 4)
    assert out[0].dup_ratio == 0.5
    assert (out[1].n_dup_grams, out[1].covered_tokens) == (2, 4)
    assert (out[2].n_dup_grams, out[2].covered_tokens, out[2].dup_ratio) == (0, 0, 0.0)
    assert (out[3].n_grams, out[3].n_dup_grams, out[3].covered_tokens) == (5, 2, 6)


def test_dup_ngram_spans_hash_key_matches_string_key(spark):
    """use_hash=True (the 8-byte production shuffle key) must agree with
    the oracle-checked string-key path on a corpus with no collisions."""
    from yatsm_spark.operators.dedup import dup_ngram_spans

    docs = _docs(spark, [(i, f"w{i} common phrase here tail{i} pad{i}")
                         for i in range(20)])
    a = sorted(map(tuple, dup_ngram_spans(docs, n=3, min_count=2).collect()))
    b = sorted(map(tuple, dup_ngram_spans(docs, n=3, min_count=2,
                                          use_hash=True).collect()))
    assert a == b and any(r[3] > 0 for r in a)


# ---------------------------------------------------------------------------
# paragraph-level dedup (Dolma/CCNet step)


def test_paragraph_dedup_cross_and_within_doc(spark):
    from yatsm_spark.operators.dedup import paragraph_dedup

    rows = [
        (0, "unique one\n\nshared footer\n\nunique two"),
        (1, "other text\n\nshared footer"),          # footer dup -> dropped
        (2, "repeat me\n\nrepeat me\n\nfresh tail"),  # within-doc dup
    ]
    out = {r["doc_id"]: r for r in
           paragraph_dedup(_docs(spark, rows)).collect()}

    assert out[0]["n_dropped"] == 0
    assert out[0]["clean_text"] == rows[0][1]  # untouched doc is byte-equal

    assert out[1]["n_dropped"] == 1
    assert out[1]["clean_text"] == "other text"

    assert out[2]["n_dropped"] == 1
    assert out[2]["clean_text"] == "repeat me\n\nfresh tail"
    assert out[2]["n_paras"] == 3


def test_paragraph_dedup_blank_structure_preserved(spark):
    from yatsm_spark.operators.dedup import paragraph_dedup

    # '\n\n\n\n' yields a blank middle segment: blanks are never dedup
    # candidates, so an untouched doc reassembles byte-for-byte
    rows = [(0, "a\n\n\n\nb"), (1, ""), (2, "x\n\nx\n\nx")]
    out = {r["doc_id"]: r for r in
           paragraph_dedup(_docs(spark, rows)).collect()}
    assert out[0]["clean_text"] == "a\n\n\n\nb"
    assert out[1]["clean_text"] == "" and out[1]["n_paras"] == 0
    # all three 'x' instances share one canonical -> 2 dropped
    assert out[2]["n_dropped"] == 2 and out[2]["clean_text"] == "x"


def test_paragraph_dedup_canonical_is_min_doc_then_idx(spark):
    from yatsm_spark.operators.dedup import paragraph_dedup

    rows = [(5, "dup\n\nother"), (3, "lead\n\ndup")]
    out = {r["doc_id"]: r for r in
           paragraph_dedup(_docs(spark, rows)).collect()}
    # doc 3 owns 'dup' (smaller doc_id), doc 5 loses its instance
    assert out[3]["clean_text"] == "lead\n\ndup"
    assert out[5]["clean_text"] == "other"


def test_remove_dup_spans_rewrite_and_counts(spark):
    from yatsm_spark.operators.dedup import dup_ngram_spans, remove_dup_spans

    boiler = "one two three four five"          # the duplicated 5-gram
    rows = [
        (0, f"alpha beta {boiler} gamma delta"),
        (1, f"{boiler} something else entirely here"),
        (2, "no duplicated content in this document at all"),
    ]
    out = {r["doc_id"]: r for r in
           remove_dup_spans(_docs(spark, rows)).collect()}

    assert out[0]["clean_text"] == "alpha beta gamma delta"
    assert out[0]["removed_tokens"] == 5
    assert out[1]["clean_text"] == "something else entirely here"
    assert out[2]["removed_tokens"] == 0
    assert out[2]["clean_text"] == rows[2][1]  # untouched doc round-trips

    # removal agrees with the signal operator's coverage numbers
    cov = {r["doc_id"]: r["covered_tokens"] for r in
           dup_ngram_spans(_docs(spark, rows)).collect()}
    for d in (0, 1, 2):
        assert out[d]["removed_tokens"] == cov[d]


def test_remove_dup_spans_overlapping_spans_merge(spark):
    from yatsm_spark.operators.dedup import remove_dup_spans

    # 'a b c d e f' duplicated: doc 0 contains it twice overlapping the
    # shared prefix — merged interval must cover the union, not double-cut
    rows = [
        (0, "a b c d e f x a b c d e f"),
        (1, "a b c d e f tail words here now"),
    ]
    out = {r["doc_id"]: r for r in
           remove_dup_spans(_docs(spark, rows)).collect()}
    # intervals [0,6) and [7,13) merge around the lone survivor 'x'
    assert out[0]["clean_text"] == "x"
    assert out[0]["removed_tokens"] == 12
    assert out[1]["clean_text"] == "tail words here now"


def test_paragraph_dedup_is_idempotent(spark):
    """After one pass every surviving paragraph instance is canonical and
    unique, so a second pass must be a byte-exact no-op."""
    from yatsm_spark.operators.dedup import paragraph_dedup

    rng = __import__("random").Random(5)
    paras = [f"paragraph number {i} with words" for i in range(6)]
    rows = [(d, "\n\n".join(rng.choice(paras)
                            for _ in range(rng.randint(1, 5))))
            for d in range(12)]
    once = paragraph_dedup(_docs(spark, rows)).collect()
    again = {r["doc_id"]: r for r in paragraph_dedup(
        _docs(spark, [(r["doc_id"], r["clean_text"]) for r in once])
    ).collect()}
    for r in once:
        assert again[r["doc_id"]]["clean_text"] == r["clean_text"]
        assert again[r["doc_id"]]["n_dropped"] == 0


def test_cc_local_and_distributed_paths_identical(spark):
    # r6: small edge sets take a driver-side union-find fast path (one job
    # instead of O(log^2 n) star-contraction rounds). Forcing the
    # distributed path with max_local_edges=0 must give the identical
    # labeling on a graph with chains, cliques, bridges and noise.
    from yatsm_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(40)]
        + [(a, b) for a in range(100, 105) for b in range(100, 105) if a < b]
        + [(104, 40), (200, 201), (201, 200), (300, 300)]
    )
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    local = {(r.node, r.component_id)
             for r in connected_components(df).collect()}
    dist = {(r.node, r.component_id)
            for r in connected_components(df, max_local_edges=0).collect()}
    assert local == dist and len(local) > 0
