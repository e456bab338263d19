"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Each reads the documents table (``doc_id``, ``text``); the pair operators
emit and read ``(doc_a, doc_b)`` pair tables.

Training-data-pipeline additions (task brief). Spark-first shapes:

- exact: hash-groupBy on a normalized fingerprint — one shuffle, map-side
  partial agg.
- minhash: shingle -> per-seed min of md5(seed||shingle) (string min is
  order-preserving on the hash, so MIN() IS the minhash) -> band buckets ->
  bucket self-join for candidates. All relational; no UDFs.
- ngram jaccard: exact set overlap on exploded distinct shingles —
  |A∩B| via a self-join groupBy count, sizes via a broadcast of per-doc
  cardinalities. Classic two-phase similarity join (corpus-scale safe:
  never materializes full cross product, only shingle-sharing pairs).
- simhash: 16-bit-per-word hash sign aggregation, hex-digit arithmetic —
  portable enough for a SQL oracle.

At 100 TB the shuffle keys here are shingles/buckets: frequency-skewed, so
the candidate join inputs get a frequency cap (stop-shingle removal), the
standard trick for similarity joins over web corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from yatsm_spark import conf

# Explicit class (not \s): Java includes U+000B in \s, RE2 (oracle) does
# not — see operators/textstats.py WS_CLASS (round-3 ADVICE).
_NORM = lambda c: F.lower(F.regexp_replace(F.trim(c), "[ \\t\\n\\x0B\\f\\r]+", " "))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization) docs:
    keeper = min(doc_id), n_copies per group."""
    return (
        docs.select("doc_id", F.md5(_NORM(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle). Built with
    sequence+transform — JVM-side, no UDF.

    The word array is materialized as a column BEFORE the transform lambda
    slices it: Catalyst CSE does not reach inside higher-order-function
    lambdas, so an inline `words` expression re-ran normalize+split per
    shingle — O(words^2) per doc (r6; measured 12x on the dsir gram
    stream, same pathology here)."""
    w = docs.select("doc_id",
                    F.split(_NORM(F.col("text")), " ").alias("_w"))
    wcol = F.col("_w")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(wcol) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(wcol, i + 1, n)),
        )
    )
    return w.select("doc_id", F.explode(shingles).alias("shingle"))


def minhash_signatures(docs: DataFrame, n_hashes: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}): sig_i = min(md5(i || shingle)).

    md5 is a fixed function of the string — identical in any engine — and
    MIN over its hex is a valid minhash (uniform order on shingles).
    """
    sh = word_shingles(docs, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i)), F.lit("|"), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_candidates(docs: DataFrame, n_hashes: int = 8, bands: int = 4,
                       shingle_n: int = 3, max_band_size: int = 1000) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become candidate
    pairs (a < b). rows_per_band = n_hashes / bands.

    max_band_size caps the self-join blast radius: a band bucket with m
    members emits m(m-1)/2 pairs, so one degenerate key (e.g. a boilerplate
    signature shared by millions of near-empty docs) would go quadratic at
    corpus scale. Buckets over the cap are dropped BEFORE the join — the
    same stop-key discipline as ngram_jaccard_pairs' max_shingle_freq.
    Members of a dropped bucket can still pair through their other bands.
    """
    rows = n_hashes // bands
    sig = minhash_signatures(docs, n_hashes, shingle_n)
    band_cols = [
        F.concat_ws("_", F.lit(b), *[F.col(f"sig_{b * rows + r}") for r in range(rows)]).alias("band_key")
        for b in range(bands)
    ]
    # Materialize the banded signature table ONCE (r6): it feeds the hot-key
    # aggregation, the anti-join probe side AND both sides of the self-join —
    # without the checkpoint Spark recomputed the whole shingle + k x md5 +
    # min-agg subtree up to four times (the dominant cost of this operator).
    # Size is docs x bands short rows — the same bounded-intermediate class
    # as the CMS/connected-components checkpoints.
    banded = (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band_key"))
                 .transform(conf.materialize))
    # Remove the OVER-cap keys with a broadcast anti-join: the hot-key set is
    # tiny by construction (each key over the cap covers >max_band_size docs),
    # while the keep-set is O(docs x bands) — broadcasting THAT would OOM at
    # corpus scale (round-2 ADVICE).
    band_hot = banded.groupBy("band_key").agg(F.count(F.lit(1)).alias("bsz")).filter(
        F.col("bsz") > max_band_size
    )
    banded = banded.join(F.broadcast(band_hot.select("band_key")), "band_key", "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5, shingle_n: int = 3,
                        max_shingle_freq: int = 1000) -> DataFrame:
    """Word-shingle Jaccard over shingle-sharing pairs, computed on the
    frequency-capped shingle universe.

    max_shingle_freq drops stop-shingles (document frequency > cap) — the
    skew cap that keeps the self-join tractable on web corpora. BOTH the
    intersections |A∩B| AND the set sizes |A|,|B| are computed on the same
    capped universe, so J = inter/(|A|+|B|-inter) is the exact Jaccard of
    the capped sets (round-1 ADVICE: mixing capped intersections with
    uncapped sizes silently underestimates J whenever the cap fires).
    """
    # materialize, NOT cache() (r6): the shingle stream has three
    # consumers in one query (stop-key agg, both self-join sides via shf);
    # a lazy cache lets the first execution's consumers RACE to populate
    # it, each recomputing the upstream subtree — measured 11.7s vs 2.7s
    # when the input is itself a join (curate_corpus's survivor slice).
    # The eager checkpoint materializes exactly once.
    sh = conf.materialize(word_shingles(docs, shingle_n))
    # Stop-shingles (df > cap) are the SMALL set — broadcast-anti-join them
    # out rather than broadcasting the corpus-sized keep-set (round-2 ADVICE).
    stop = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") > max_shingle_freq
    )
    shf = sh.join(F.broadcast(stop.select("shingle")), "shingle", "left_anti")
    sizes = shf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = shf.alias("a"), shf.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # sizes is per-doc (corpus-sized at scale): no broadcast hint — AQE picks
    # broadcast at small SF and a shuffle join once it outgrows the threshold.
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash over word hashes.

    word_hash = first 4 hex digits of md5(word) (16 bits); each bit
    contributes +1/-1; simhash bit j = sign of the sum. conv(hex,16,10) on
    the Spark side has an exact DuckDB twin via a hex-digit lookup, keeping
    the whole operator SQL-checkable.
    """
    words = F.explode(F.array_distinct(F.split(_NORM(F.col("text")), " "))).alias("word")
    w = docs.select("doc_id", words)
    w = w.withColumn("h", F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("long"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(16)
    ]
    agg = w.groupBy("doc_id").agg(*bit_sums)
    sim = sum(
        (F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)),
        start=F.lit(0),
    )
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def connected_components(pairs: DataFrame, max_iters: int = 25,
                         max_local_edges: int = 1 << 20) -> DataFrame:
    """Connected components over an undirected ``(doc_a, doc_b)`` pair
    table -> (node, component_id = min node id in the component). Covers
    only nodes that appear in >= 1 pair; use dedup_groups for the
    full-corpus labeling.

    Algorithm: alternating large-star / small-star edge contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) — O(log^2 n) rounds on adversarial graphs (a min-label
    propagation loop would need diameter rounds, unbounded on duplicate
    CHAINS, the common web-dedup pathology). Each half-round is one
    groupBy-min + one join on the node key: 2 shuffles, all JVM.

    Scale posture: the edge set shrinks toward stars every round; state is
    materialized per round to truncate lineage (iterative plans
    otherwise recompute the whole prefix), and convergence is a driver-side
    scalar (count + order-insensitive hash) — no collect of data rows."""
    spark = pairs.sparkSession
    a, b = F.col("doc_a"), F.col("doc_b")
    edges = (pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct().transform(conf.materialize))

    def star(e: DataFrame, large: bool) -> DataFrame:
        # symmetric neighbor list, grouped min m(u) = min(N(u) ∪ {u})
        nbrs = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
            e.select(F.col("v").alias("x"), F.col("u").alias("y")))
        mins = nbrs.groupBy("x").agg(F.min("y").alias("mn")).select(
            "x", F.least("mn", "x").alias("m"))
        j = nbrs.join(mins, "x")
        keep = j.filter(F.col("y") > F.col("x")) if large else \
            j.filter(F.col("y") <= F.col("x")).unionAll(
                mins.select(F.col("x").alias("x"), F.col("x").alias("y"), "m"))
        return (keep.select(F.least("y", "m").alias("u"),
                            F.greatest("y", "m").alias("v"))
                .filter(F.col("u") != F.col("v")).distinct())

    def sig(e: DataFrame):
        # Order-insensitive convergence fingerprint. bit_xor (not sum):
        # summing ~uniform signed 64-bit hashes overflows int64 almost
        # immediately, which is an ERROR under ANSI mode (Spark 4 session
        # default) — xor is closed over int64 and equally order-insensitive
        # (edges are distinct, so no pair cancellation). Same pattern as
        # tools/tier_hash.py.
        r = e.agg(F.count(F.lit(1)).alias("n"),
                  F.bit_xor(F.xxhash64("u", "v")).alias("h")).first()
        return r["n"], r["h"]

    prev = sig(edges)
    # Small-graph fast path (r6): each distributed round costs ~6 driver-
    # synced stages (two star contractions + checkpoint + fingerprint), so
    # a tiny pair graph paid seconds of pure scheduling (measured 3.4s for
    # 256 edges at sf0.1). When the DISTINCT edge count — already computed
    # for the convergence fingerprint — is within max_local_edges
    # (default 2^20 edges ~ 16 MB, the broadcast-side size class), collect
    # the edges once and run exact union-find on the driver: identical
    # labeling (component_id = min node id; pinned by a test forcing both
    # paths), one job instead of O(log^2 n) rounds. Big graphs take the
    # star-contraction loop exactly as before.
    if prev[0] <= max_local_edges:
        from pyspark.sql import types as T

        dtype = edges.schema["u"].dataType
        elist = [(row["u"], row["v"]) for row in edges.collect()]
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for u, v in elist:
            nodes.add(u)
            nodes.add(v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        comp_min: dict = {}
        for n in nodes:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        schema = T.StructType([
            T.StructField("node", dtype, False),
            T.StructField("component_id", dtype, False),
        ])
        return spark.createDataFrame(
            [(n, comp_min[find(n)]) for n in sorted(nodes)], schema)
    for _ in range(max_iters):
        edges = conf.materialize(star(star(edges, large=True), large=False))
        cur = sig(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iters} rounds")
    # converged state is a forest of stars centered on each component min
    sym = edges.select(F.col("u").alias("node"), F.col("v").alias("peer")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("peer")))
    return sym.groupBy("node").agg(F.min("peer").alias("mn")).select(
        "node", F.least("mn", "node").alias("component_id"))


def dedup_groups(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Corpus-wide dedup decision table: every doc labeled with its
    near-dup component (singletons = own id) and whether it is the
    canonical keeper (the component min — the standard deterministic
    keep rule). Completes the dedup story from PAIRS to per-doc
    keep/drop decisions. One left join against the component labeling —
    only nodes that occur in pairs carry labels, typically a small
    fraction of the corpus, so AQE converts this to a broadcast join when
    it fits (not forced: at 100 TB a heavy-dup corpus can exceed the
    broadcast budget)."""
    comp = connected_components(pairs)
    out = docs.select("doc_id").join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
    ).withColumn("is_canonical", F.col("doc_id") == F.col("component_id"))


def dup_ngram_spans(docs: DataFrame, n: int = 5, min_count: int = 2,
                    use_hash: bool = False) -> DataFrame:
    """Cross-corpus duplicated-substring signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the ExactSubstr criterion recast relationally):
    per document, how much of it is covered by word n-grams that occur
    >= ``min_count`` times ANYWHERE in the corpus (other docs or repeats
    within the same doc).

    Returns one row per doc: ``(doc_id, n_words, n_grams, n_dup_grams,
    covered_tokens, dup_ratio)`` where ``covered_tokens`` merges the
    overlapping ``[pos, pos+n)`` spans of duplicated grams (interval
    coalescing via a running-max window) and ``dup_ratio`` is the round-6
    snapped exact integer division n_dup_grams / n_grams.

    Scale shape: positional grams are an in-row ``sequence``+``slice``
    transform (no UDF) exploded to ~1 row per corpus token — the same
    cardinality any tokenizing pass already handles; the gram count is
    ONE partial+final hash aggregation and the dup-gram join back is an
    equi-join whose hot keys ARE the duplicates (AQE skew-join
    territory, not a design flaw). The per-doc interval merge shuffles
    once on doc_id. ``use_hash=True`` swaps the shuffle/join key from
    the gram STRING to ``xxhash64(gram)`` — 8 bytes instead of ~n words,
    the production key at 10^11+ grams (collision odds ~ m^2/2^65;
    results then are not bit-GUARANTEED, which is why the oracle-checked
    default stays on strings).
    """
    gram_key = (F.xxhash64("gram") if use_hash else F.col("gram")).alias("gk")
    words = F.split(_NORM(F.col("text")), " ")
    base = docs.select("doc_id", words.alias("w")) \
               .withColumn("n_words", F.size("w")) \
               .withColumn("n_grams",
                           F.greatest(F.col("n_words") - n, F.lit(0)) + 1)
    grams = base.select(
        "doc_id", "n_words",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.col("n_words") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
            )
        ).alias("pos", "gram"),
    ).select("doc_id", "n_words", "pos", gram_key)
    dup_keys = (grams.groupBy("gk")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .filter(F.col("cnt") >= min_count)
                .select("gk"))
    d = (grams.join(dup_keys, "gk")
         .select("doc_id", "pos",
                 F.least(F.col("pos") + n, F.col("n_words")).alias("e")))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_e = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "brk", (F.col("pos") > F.coalesce(prev_max_e, F.lit(-1))).cast("int"))
    d = d.withColumn("iid", F.sum("brk").over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)))
    per_doc = (d.groupBy("doc_id", "iid")
               .agg(F.min("pos").alias("a"), F.max("e").alias("b"),
                    F.count(F.lit(1)).alias("c"))
               .groupBy("doc_id")
               .agg(F.sum("c").alias("n_dup_grams"),
                    F.sum(F.col("b") - F.col("a")).alias("covered_tokens")))
    return (
        base.select("doc_id", "n_words", "n_grams")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_grams",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long")
             .alias("covered_tokens"),
            F.round(F.coalesce(F.col("n_dup_grams"), F.lit(0))
                    / F.col("n_grams"), 6).alias("dup_ratio"),
        )
    )


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide paragraph-level deduplication (the Dolma / CCNet
    pipeline step): every non-blank paragraph occurrence except its
    canonical first instance is removed, and the document is reassembled.

    Paragraphs are literal '\\n\\n' splits (structure-preserving: blank
    segments are never dedup candidates and are always kept, so rejoining
    with '\\n\\n' reproduces untouched documents byte-for-byte). The
    canonical instance of a paragraph (key = md5 of the trimmed text) is
    the lexicographically smallest (doc_id, para_idx) — deterministic,
    partitioning-independent.

    Returns (doc_id, n_paras, n_dropped, clean_text): n_paras counts
    non-blank paragraph instances, n_dropped how many were removed,
    clean_text the reassembled document. The oracle compares clean_text
    byte-exactly (the redact_pii discipline).

    Scale shape: posexplode (linear), ONE hash agg keyed by paragraph
    hash for the canonical owner (map-side partials; the key space is
    the distinct-paragraph set), one shuffled join back on the hash, one
    per-doc re-assembly agg. No windows over the corpus, no broadcast of
    unbounded sides."""
    paras = (docs.select("doc_id",
                         F.posexplode(F.split(F.col("text"), "\n\n", -1))
                         .alias("para_idx", "para")))
    inst = paras.withColumn("_blank", F.trim(F.col("para")) == "") \
                .withColumn("_key", F.md5(F.trim(F.col("para"))))

    canon = (inst.filter(~F.col("_blank"))
             .groupBy("_key")
             .agg(F.min(F.struct(F.col("doc_id"), F.col("para_idx")))
                  .alias("_first")))

    flagged = (inst.join(canon, "_key", "left")
               .withColumn(
                   "_kept",
                   F.col("_blank")
                   | ((F.col("doc_id") == F.col("_first.doc_id"))
                      & (F.col("para_idx") == F.col("_first.para_idx")))))

    return (flagged.groupBy("doc_id").agg(
        F.sum(F.when(~F.col("_blank"), 1).otherwise(0))
         .cast("long").alias("n_paras"),
        F.sum(F.when(~F.col("_kept"), 1).otherwise(0))
         .cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("_kept"),
                           F.struct(F.col("para_idx"), F.col("para"))))),
                lambda s: s["para"]),
            "\n\n").alias("clean_text")))


def remove_dup_spans(docs: DataFrame, n: int = 5, min_count: int = 2) -> DataFrame:
    """The REMOVAL step of ExactSubstr dedup (Lee et al. 2022): rewrite
    every document with the word spans covered by corpus-duplicated
    n-grams cut out. Operates on the same normalized word sequence (and
    the same merged ``[pos, pos+n)`` interval semantics) as
    :func:`dup_ngram_spans`, so ``removed_tokens`` there equals
    ``covered_tokens`` here; the emitted ``clean_text`` is the kept
    words joined by single spaces — a normalized rewrite by definition
    (the signal operator reports, this one acts).

    Returns (doc_id, n_words, removed_tokens, clean_text), clean_text
    compared BYTE-exactly by the oracle. Scale shape: identical to
    dup_ngram_spans through the interval merge (gram explode + one
    bounded gram agg + skew-aware join + one doc window), then the
    merged intervals come back as a per-doc ARRAY (bounded by
    n_words/n) and the rewrite is one in-row filter/transform pass —
    no extra shuffle beyond the interval merge's."""
    words = F.split(_NORM(F.col("text")), " ")
    base = docs.select("doc_id", words.alias("w")) \
               .withColumn("n_words", F.size("w"))
    grams = base.select(
        "doc_id", "n_words",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.col("n_words") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, n)),
            )
        ).alias("pos", "gram"))
    dup_keys = (grams.groupBy("gram")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .filter(F.col("cnt") >= min_count)
                .select("gram"))
    d = (grams.join(dup_keys, "gram")
         .select("doc_id", "pos",
                 F.least(F.col("pos") + n, F.col("n_words")).alias("e")))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_e = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "brk", (F.col("pos") > F.coalesce(prev_max_e, F.lit(-1))).cast("int"))
    d = d.withColumn("iid", F.sum("brk").over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)))
    merged = (d.groupBy("doc_id", "iid")
              .agg(F.min("pos").alias("a"), F.max("e").alias("b"))
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list(F.struct("a", "b")))
                   .alias("ivs")))

    joined = (base.join(merged, "doc_id", "left")
              .withColumn("ivs", F.coalesce(
                  "ivs", F.array().cast("array<struct<a:int,b:int>>"))))
    keep_idx = F.filter(
        F.sequence(F.lit(0), F.col("n_words") - 1),
        lambda i: ~F.exists("ivs",
                            lambda iv: (i >= iv["a"]) & (i < iv["b"])))
    pre = joined.select("doc_id", "n_words", "w",
                        keep_idx.alias("_keep"))
    return pre.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        (F.col("n_words") - F.size("_keep")).cast("long")
         .alias("removed_tokens"),
        F.array_join(
            F.transform(F.col("_keep"),
                        lambda i: F.element_at(F.col("w"), i + 1)),
            " ").alias("clean_text"))
