"""Text-analysis operators for training-data pipelines (task brief):
token counting, quality scoring, language-ID heuristic, fingerprinting.
Each reads the documents table (``doc_id``, ``text``).

All pure Catalyst expressions (JVM-side, WholeStageCodegen) — no Python in
the hot path. Each has an exact ANSI-SQL twin for the DuckDB oracle, so the
implementations stick to portable constructs (md5, regexp_replace, length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from yatsm_spark.operators.grid import micro6

#: tiny stopword lists per language for the n-gram/stopword LID heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def _count_word(col, word: str):
    """Occurrences of ` word ` in ` text ` — portable (length arithmetic,
    no regex dialect differences)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.regexp_replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


#: Explicit whitespace class shared with the DuckDB oracle SQL: Java's \s
#: includes U+000B (vertical tab) while RE2's does not, so every pattern
#: spells the class out and both engines tokenize \x0B-bearing text
#: identically (round-3 ADVICE).
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
_WS_CHARS = " \\t\\n\\x0B\\f\\r"

#: GPT-2-style BPE pre-tokenizer pattern (contractions | space+letters |
#: space+digits | space+other | whitespace runs); counting its matches
#: approximates subword token counts far better than chars/4 on prose.
#: Two deliberate deviations from the exact GPT-2 pattern, both because
#: the oracle engine's RE2 must agree: whitespace is the explicit class
#: above (not \s), and GPT-2's `\s+(?!\S)` branch is omitted (RE2 has no
#: lookahead), so runs of multiple spaces tokenize as ONE whitespace
#: token here where GPT-2 splits the last space onto the next word.
BPE_REGEX = ("'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+"
             f"| ?[^{_WS_CHARS}\\p{{L}}\\p{{N}}]+|{WS_CLASS}+")


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish counts (GPT-2 pre-tokenizer regex
    match count, and the chars/4 rule of thumb) + char count. Pure
    Catalyst — regexp_count runs JVM-side inside codegen."""
    t = F.col("text")
    ws_tokens = F.size(F.split(F.trim(t), WS_CLASS + "+"))
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        ws_tokens.cast("long").alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(BPE_REGEX)).cast("long").alias("n_bpe_tokens"),
        F.ceil(F.length(t) / F.lit(4.0)).cast("long").alias("n_bpe_est"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    keep/drop flag (Gopher/C4-style threshold rules, simplified)."""
    t = F.col("text")
    n_chars = F.length(t)
    n_words = F.size(F.split(F.trim(t), WS_CLASS + "+")).cast("long")
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace(t, f"[a-zA-Z0-9{_WS_CHARS}]", ""))
    n_stop = sum(_count_word(t, w) for w in LANG_MARKERS["en"])
    mean_word_len = (n_alpha.cast("double") / F.greatest(n_words, F.lit(1)))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        n_words.alias("n_words"),
        F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop.cast("double") / F.greatest(n_words, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        (
            (n_words >= 5) & (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
            & ((n_punct.cast("double") / F.greatest(n_chars, F.lit(1))) < 0.2)
        ).alias("quality_keep"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID: argmax over per-language marker hit
    counts; 'und' when all zero. Deterministic tie-break by language code
    order via the score tuple."""
    t = F.col("text")
    scores = {
        lang: sum(_count_word(t, w) for w in words).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", *scores.values())
    best = F.greatest(*[F.col(f"score_{l}") for l in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):  # deterministic order
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select("doc_id", *[f"score_{l}" for l in LANG_MARKERS], pred.alias("pred_lang"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key (near-dup keys live in operators/dedup.py)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), WS_CLASS + "+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (the classic low-quality /
    generated-text tells): duplicated 2-gram and 3-gram fraction plus the
    most-frequent-word share. N-gram ratios are pure array Catalyst (no
    shuffle beyond the final top-word agg: explode -> (doc, word) count ->
    doc max/sum, both hash-aggs on the doc key)."""
    t = F.col("text")
    words = F.split(F.trim(F.regexp_replace(t, WS_CLASS + "+", " ")), " ")
    # words is materialized as a column BEFORE the gram lambdas slice it
    # (r6): Catalyst CSE does not reach inside higher-order-function
    # lambdas, so the inline expression re-ran regexp+split per gram —
    # O(words^2) per doc (same pathology measured 12x on the dsir gram
    # stream).
    w0 = docs.select("doc_id", words.alias("ws"))
    wcol = F.col("ws")

    def rep_ratio(n: int):
        grams = F.when(
            F.size(wcol) >= n,
            F.transform(F.sequence(F.lit(0), F.size(wcol) - n),
                        lambda i: F.concat_ws(" ", F.slice(wcol, i + 1, n))),
        ).otherwise(F.array())
        return F.when(F.size(grams) > 0,
                      1.0 - F.size(F.array_distinct(grams)) / F.size(grams)
                      ).otherwise(F.lit(0.0))

    # Two selects, NOT one: putting explode() in the same projection as
    # the ratio expressions leaves them ABOVE the Generate, re-evaluating
    # the gram lambda chain once per exploded word (~40x per doc —
    # measured 120s vs 2s at sf0.01). Below the Generate they run once
    # per doc; CollapseProject cannot merge across it.
    pre = w0.select("doc_id", rep_ratio(2).alias("rep_2gram_ratio"),
                    rep_ratio(3).alias("rep_3gram_ratio"), "ws")
    base = pre.select("doc_id", "rep_2gram_ratio", "rep_3gram_ratio",
                      F.explode("ws").alias("word"))
    per_word = base.groupBy("doc_id", "rep_2gram_ratio", "rep_3gram_ratio",
                            "word").agg(F.count(F.lit(1)).alias("c"))
    return per_word.groupBy("doc_id", "rep_2gram_ratio", "rep_3gram_ratio").agg(
        (F.max("c") / F.sum("c")).alias("top_word_share"))


#: PII patterns shared verbatim with the DuckDB oracle — dialect-portable:
#: explicit classes, no \s, no lookaround, greedy quantifiers only (Java
#: regex and RE2 agree on all of these constructs). Heuristic by design;
#: the oracle pins engine-vs-engine equality, not recall.
PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"),
    ("url", "https?://[^ \\t\\n\\x0B\\f\\r]+"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"),
    ("phone", "\\+[0-9][0-9()\\- ]{7,}[0-9]"),
)


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-doc counts of each PII pattern — Catalyst regexp_count only."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        *[F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
          for name, pat in PII_PATTERNS])


def redact_pii(docs: DataFrame, with_counts: bool = False) -> DataFrame:
    """Append ``redacted``: ``text`` with every PII match replaced by a
    typed placeholder, applied in PII_PATTERNS order (email before
    ipv4/phone so an address inside a URL/userinfo is consumed by the
    earlier, more specific pattern). Byte-identical output across engines
    — the driver oracle compares the redacted TEXT itself, not a summary.
    with_counts=True also emits the pii_scan columns in the SAME single
    pass (one scan, zero shuffles)."""
    t = F.col("text")
    out = t
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    df = docs.withColumn("redacted", out)
    if with_counts:
        for name, pat in PII_PATTERNS:
            df = df.withColumn(f"n_{name}",
                               F.regexp_count(t, F.lit(pat)).cast("long"))
    return df


def lm_unigram_score(docs: DataFrame, with_micro: bool = False) -> DataFrame:
    """Corpus-self unigram language-model score per document — the
    perplexity-style quality signal of CCNet (Wenzek et al. 2020,
    arXiv:1911.00359), proxied with a self-trained unigram LM instead of
    an external KenLM (no model files in this environment; production
    would train the counts on a held-out reference corpus and add OOV
    smoothing — self-training makes every word in-vocabulary by
    construction).

    Per doc: ``avg_logprob`` = mean over token occurrences of
    ``ln(count(w) / total_tokens)``. Low (very negative) = rare/garbage
    vocabulary; high = prototypical corpus text. Returns
    ``(doc_id, n_tokens, avg_logprob)``; docs with zero tokens carry
    NULL avg_logprob.

    Scale shape: tokenize + explode (linear, text pruned immediately),
    ONE (word) hash agg for the LM counts (vocabulary-sized output,
    partial agg map-side), one join back on word (vocabulary side left
    to AQE: broadcasts while it fits), one (doc) hash agg. Cross-engine
    exactness: the only transcendental is ln(), snapped per OCCURRENCE
    to integer micro-units (floor(x * 1e6 + 0.5) as long — the BM25
    discipline from operators/ranking.py) BEFORE the per-doc sum, so
    long addition makes the total order-independent; the final mean is
    one double division of exact integers, round-6 snapped.
    """
    from yatsm_spark.operators.ranking import TOKEN_SPLIT

    toks = F.filter(F.split(F.lower(F.col("text")), TOKEN_SPLIT),
                    lambda t: t != "")
    words = (docs.select("doc_id", toks.alias("toks"))
             .select("doc_id", F.explode("toks").alias("word")))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    micro = micro6(F.log(F.col("cnt").cast("double") / F.col("total"))).cast("long")
    scored = (words.join(counts, "word").crossJoin(F.broadcast(total))
              .select("doc_id", micro.alias("lp_micro")))
    per_doc = (scored.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("lp_micro").alias("lp_sum")))
    cols = [
        F.col("doc_id"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("lp_sum") / 1e6 / F.col("n_tokens"), 6))
         .alias("avg_logprob")]
    if with_micro:
        # exact integer numerator for downstream re-aggregation (e.g. a
        # per-source corpus report): avoids averaging already-rounded
        # doubles, which would be order-dependent
        cols.append(F.coalesce("lp_sum", F.lit(0)).cast("long")
                     .alias("lp_micro_sum"))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select(*cols))


#: Gopher required stop words (Rae et al. 2021, arXiv:2112.11446 §A1.1.2):
#: a document must contain at least 2 of these to pass the rule battery.
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: Bullet prefixes / ellipsis suffixes for the line-shape rules. ASCII plus
#: the common typographic forms; shared verbatim with the oracle SQL.
GOPHER_BULLETS = ("-", "*", "•", "‣", "▪")
GOPHER_ELLIPSES = ("...", "…")


def gopher_rules(docs: DataFrame, min_words: int = 50, max_words: int = 100_000,
                 min_stops: int = 2) -> DataFrame:
    """The full Gopher quality-rule battery (Rae et al. 2021,
    arXiv:2112.11446 §A1.1.2) as per-document signals plus the composed
    keep flag — the published thresholds, unlike the simplified composite
    in :func:`quality_scores`:

    1. word count in [min_words, max_words] (paper: 50..100,000)
    2. mean word length in [3, 10] characters
    3. symbol-to-word ratio (# and ellipsis) <= 0.1
    4. <= 90% of lines start with a bullet
    5. <= 30% of lines end with an ellipsis
    6. >= 80% of words contain at least one alphabetic character
    7. at least min_stops of the 8 required stop words present
       (paper: 2; corpora with a narrow synthetic vocabulary need 1
       for the flag to discriminate at all)

    Pure Catalyst (split/filter/aggregate array lambdas + length
    arithmetic — no regex beyond the whitespace class, no Python). One
    linear scan, zero shuffles; every ratio is an exact int/int double so
    the DuckDB oracle twin is value-identical. Line fractions use literal
    '\\n' splitting; word splitting uses the shared explicit WS_CLASS.

    Plan shape: TWO stacked projections, not one. The word and line
    scans are single-pass struct-accumulator ``F.aggregate`` calls
    materialized as intermediate columns; the second projection derives
    every ratio from the struct fields. Naming each output directly off
    the array expressions would duplicate the split+traverse work once
    per referencing column (~8 re-splits of the text per row —
    CollapseProject only inlines cheap expressions, so the two-step
    shape survives optimization and each traversal runs once).
    """
    t = F.col("text")
    words = F.filter(F.split(F.trim(t), WS_CLASS + "+"), lambda w: w != F.lit(""))

    def _zero3():
        return F.struct(F.lit(0).cast("long").alias("a"),
                        F.lit(0).cast("long").alias("b"),
                        F.lit(0).cast("long").alias("c"))

    # one traversal: (n_words, sum of word lengths, words with a letter)
    wstats = F.aggregate(
        words, _zero3(),
        lambda acc, w: F.struct(
            (acc["a"] + 1).alias("a"),
            (acc["b"] + F.length(w)).alias("b"),
            (acc["c"] + F.when(w.rlike("[a-zA-Z]"), 1).otherwise(0)).alias("c")))

    def _count_lit(needle: str):
        return ((F.length(t) - F.length(F.replace(t, F.lit(needle), F.lit(""))))
                / len(needle)).cast("long")

    n_symbols = _count_lit("#") + sum(_count_lit(e) for e in GOPHER_ELLIPSES)

    lines = F.split(t, "\n", -1)

    def _starts_bullet(line):
        l = F.ltrim(line)
        cond = l.startswith(GOPHER_BULLETS[0])
        for b in GOPHER_BULLETS[1:]:
            cond = cond | l.startswith(b)
        return cond

    def _ends_ellipsis(line):
        l = F.rtrim(line)
        cond = l.endswith(GOPHER_ELLIPSES[0])
        for e in GOPHER_ELLIPSES[1:]:
            cond = cond | l.endswith(e)
        return cond

    # one traversal: (n_lines, bullet-start lines, ellipsis-end lines)
    lstats = F.aggregate(
        lines, _zero3(),
        lambda acc, l: F.struct(
            (acc["a"] + 1).alias("a"),
            (acc["b"] + F.when(_starts_bullet(l), 1).otherwise(0)).alias("b"),
            (acc["c"] + F.when(_ends_ellipsis(l), 1).otherwise(0)).alias("c")))

    padded = F.concat(F.lit(" "),
                      F.lower(F.regexp_replace(t, WS_CLASS + "+", " ")),
                      F.lit(" "))

    pre = docs.select("doc_id", wstats.alias("_w"), lstats.alias("_l"),
                      n_symbols.alias("_sym"), padded.alias("_pad"))

    n_words = F.col("_w")["a"]
    nw1 = F.greatest(n_words, F.lit(1))
    sum_word_len = F.col("_w")["b"]
    n_alpha_words = F.col("_w")["c"]
    n_lines = F.col("_l")["a"]
    n_bullet = F.col("_l")["b"]
    n_ellip = F.col("_l")["c"]
    n_symbols = F.col("_sym")
    n_stops = sum(F.when(F.col("_pad").contains(f" {w} "), F.lit(1))
                  .otherwise(F.lit(0)) for w in GOPHER_STOPS).cast("long")

    mean_wl = sum_word_len.cast("double") / nw1
    sym_ratio = n_symbols.cast("double") / nw1
    bullet_frac = n_bullet.cast("double") / n_lines
    ellip_frac = n_ellip.cast("double") / n_lines
    alpha_frac = n_alpha_words.cast("double") / nw1

    keep = ((n_words >= min_words) & (n_words <= max_words)
            & (mean_wl >= 3.0) & (mean_wl <= 10.0)
            & (sym_ratio <= 0.1)
            & (bullet_frac <= 0.9) & (ellip_frac <= 0.3)
            & (alpha_frac >= 0.8)
            & (n_stops >= min_stops))
    return pre.select(
        "doc_id",
        n_words.alias("g_n_words"),
        F.round(mean_wl, 6).alias("g_mean_word_len"),
        F.round(sym_ratio, 6).alias("g_symbol_ratio"),
        F.round(bullet_frac, 6).alias("g_bullet_frac"),
        F.round(ellip_frac, 6).alias("g_ellipsis_frac"),
        F.round(alpha_frac, 6).alias("g_alpha_word_frac"),
        n_stops.alias("g_n_stopwords"),
        keep.alias("gopher_keep"),
    )


#: C4 terminal punctuation (Raffel et al. 2020 §2.2): a retained line must
#: end with one of these after right-trimming spaces.
C4_TERMINALS = (".", "!", "?", "\"")
#: In-line whitespace class (no \n — lines are already split on it).
_LINE_WS = "[ \\t\\x0B\\f\\r]+"


def c4_clean(docs: DataFrame, min_words_per_line: int = 5,
             min_lines: int = 3) -> DataFrame:
    """The C4 line-level cleanup battery (Raffel et al. 2020,
    arXiv:1910.10683 §2.2): keep only lines that end in terminal
    punctuation, carry at least ``min_words_per_line`` words, and do not
    mention javascript; flag pages containing 'lorem ipsum' or a curly
    brace; compose the page keep decision (>= ``min_lines`` retained
    lines and neither page flag). Returns per-doc counts, flags, the
    keep decision, and the reassembled ``clean_text`` — which the oracle
    compares BYTE-exactly.

    Pure Catalyst, zero shuffles, same two-projection shape as
    :func:`gopher_rules` (the line scan — one filter with the three
    per-line rules fused — runs once per row; CollapseProject leaves
    non-cheap expressions out-of-line). The word count per line uses an
    explicit in-line whitespace class (no \\n — lines are already split
    on it; no \\s — the Java-vs-RE2 \\x0B gap, round-3 ADVICE)."""
    t = F.col("text")
    lines = F.split(t, "\n", -1)

    def _line_kept(l):
        r = F.rtrim(l)
        term = r.endswith(C4_TERMINALS[0])
        for c in C4_TERMINALS[1:]:
            term = term | r.endswith(c)
        n_words = F.size(F.filter(F.split(l, _LINE_WS),
                                  lambda w: w != F.lit("")))
        return (term & (n_words >= min_words_per_line)
                & ~F.lower(l).contains("javascript"))

    low = F.lower(t)
    pre = docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("_n_lines"),
        F.filter(lines, _line_kept).alias("_kept"),
        low.contains("lorem ipsum").alias("has_lorem_ipsum"),
        (t.contains("{") | t.contains("}")).alias("has_curly_brace"),
    )
    n_kept = F.size(F.col("_kept")).cast("long")
    keep = ((n_kept >= min_lines)
            & ~F.col("has_lorem_ipsum") & ~F.col("has_curly_brace"))
    return pre.select(
        "doc_id",
        F.col("_n_lines").alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        "has_lorem_ipsum", "has_curly_brace",
        keep.alias("c4_keep"),
        F.array_join(F.col("_kept"), "\n").alias("clean_text"),
    )
