"""The plan-shape contract: for each key frame and declared query of the
engine, the physical-plan properties that decide its behaviour at scale
(pushed filters, pruned read schemas, partial aggregation, broadcast vs
shuffle joins, Python boundaries, exchange counts).

Plans are built with ``conf.materialize`` replaced by the identity, so a
check sees the plan behind every checkpoint, not the ``Scan ExistingRDD``
the checkpoint leaves (plans/r06/*_runtime.txt shows that runtime shape).
tools/explain_audit.py writes these checks with their plans to
BENCH/PLANS.md; tools/capture_plans.py captures plans through ``Plans``.
"""

import os
from functools import cached_property
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e
from yatsm_spark import conf
from yatsm_spark.ingest import with_measures
from yatsm_spark.operators.cascade import cascade
from yatsm_spark.operators.changescore import change_scores
from yatsm_spark.operators.codec import encode_chunks
from yatsm_spark.operators.rollup import gapfill, rollup_from_turns
from yatsm_spark.operators.routing import route_range
from yatsm_spark.operators.sketches import heavy_hitters
from yatsm_spark.synth import transcripts_for_sf

REPO = Path(__file__).resolve().parents[1]
SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def seen_through(build):
    """``build()`` with every ``conf.materialize`` seen through."""
    real, conf.materialize = conf.materialize, lambda df, eager=True: df
    try:
        return build()
    finally:
        conf.materialize = real


def plan_of(build, mode: str = "formatted") -> str:
    """The physical plan of ``build()`` as ``explain(mode)`` prints it,
    built with every ``conf.materialize`` seen through."""
    df = seen_through(build)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def holds(plan: str, needle: str, want) -> bool:
    """``want`` True/False: ``needle`` is/is not in ``plan``; an int: it
    occurs exactly that many times."""
    if isinstance(want, bool):
        return (needle in plan) == want
    return plan.count(needle) == want


class Plans:
    """The contract's frames and queries on one session over one SF dir, and
    their plans. A name is a frame below or a declared query; the routed
    frames read tier tables they first write under ``workdir``."""

    def __init__(self, spark, sf_dir: str, workdir: str):
        self.spark, self.sf_dir, self.workdir = spark, sf_dir, workdir
        self.queries = e.queries()
        self.tx = transcripts_for_sf(spark, sf_dir, data_root=str(REPO / "data"))
        self.measures = with_measures(self.tx)
        r1 = rollup_from_turns(self.measures, "1m")
        self.frames = {
            "rollup_1m_only": lambda: r1,
            "gapfill_1m": lambda: gapfill(r1, "1m"),
            "cascade_1m_1h": lambda: cascade(r1, "1m", "1h"),
            "segments_ccdc": lambda: change_scores(r1),
            "gorilla_encode": lambda: encode_chunks(r1, "1m"),
            "heavy_hitters_cms": lambda: heavy_hitters(self.tx, ["role"], "conv_id", 600),
            "single_conv": lambda: self.tx.where(F.col("conv_id") == "conv00000007"),
            "routed_tiers": self._routed_tiers,
            "routed_chunks": self._routed_chunks,
        }
        self._plans = {}

    def build(self, name: str):
        """The builder of frame or query ``name``."""
        return self.frames.get(name) or (
            lambda: self.queries[name](self.spark, self.sf_dir))

    def plan(self, name: str) -> str:
        if name not in self._plans:
            self._plans[name] = plan_of(self.build(name))
        return self._plans[name]

    def section_plan(self, section: str) -> str:
        return self.plan(FRAME_OF.get(section, section.split()[0]))

    @cached_property
    def _tiers(self) -> dict:
        # Materialized tier tables, the production serve shape: every tier
        # slice can push its window_start range to the parquet scan.
        d, read = self.workdir, self.spark.read.parquet
        t1m = rollup_from_turns(self.measures.where(F.col("ts") < "2025-01-20"), "1m")
        t1m.write.mode("overwrite").parquet(f"{d}/t1m")
        t1m = read(f"{d}/t1m")
        for tier in ("1h", "1d"):
            cascade(t1m, "1m", tier).write.mode("overwrite").parquet(f"{d}/t{tier}")
        return {"1m": t1m, "1h": read(f"{d}/t1h"), "1d": read(f"{d}/t1d")}

    def _routed_tiers(self):
        return route_range(self._tiers, "2025-01-02 00:30:00", "2025-01-22 02:03:00",
                           fresh_measures=self.measures, watermark="2025-01-20 00:00:00")

    def _routed_chunks(self):
        d, tiers = self.workdir, self._tiers
        encode_chunks(tiers["1m"], "1m") \
            .write.mode("overwrite").parquet(f"{d}/chunks")
        live = {**tiers, "1m": tiers["1m"].where(F.col("window_start") >= "2025-01-15")}
        return route_range(live, "2025-01-02 00:30:00", "2025-01-22 02:03:00",
                           fresh_measures=self.measures, watermark="2025-01-20 00:00:00",
                           chunks=self.spark.read.parquet(f"{d}/chunks"))


#: Sections over an engine frame; every other section checks the declared
#: query its name starts with.
FRAME_OF = {
    "rollup_1m (A6)": "rollup_1m_only",
    "gapfill (W8)": "gapfill_1m",
    "cascade 1m->1h (A7)": "cascade_1m_1h",
    "single-conv read (S4)": "single_conv",
    "route_range over materialized tiers (tier-routing serve path)": "routed_tiers",
    "route_range through compressed chunks (evicted-history serve)": "routed_chunks",
}

#: (section, [(label, needle, want), ...]); see ``holds`` for ``want``.
SECTIONS = [
    ("rollup_1m (A6)", [
        ("map-side partial aggregation present", "partial_count", True),
        ("text column pruned from scan (only length survives projection)", "ReadSchema", True),
    ]),
    ("gapfill (W8)", [
        ("gap rows via Generate (explode), not a join", "Generate", True),
        ("sparse+gaps union", "Union", True),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("cascade 1m->1h (A7)", [
        ("hash aggregate (not sort-based)", "HashAggregate", True),
    ]),
    ("single-conv read (S4)", [
        ("predicate pushed to parquet scan", "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,conv00000007)]", True),
    ]),
    ("region_rollup (J2 broadcast)", [
        ("broadcast hash join chosen", "BroadcastHashJoin", True),
        ("no shuffle join for dims", "SortMergeJoin", False),
    ]),
    ("order_lineitem_interval (J1 range join)", [
        ("equi-key join with range residual (hash or SMJ, never cartesian)", "CartesianProduct", False),
    ]),
    ("orders_asof (J3 as-of)", [
        ("single window, rn filter", "RunningWindowFunction", False),  # informational
        ("date filter pushed to scan", "PushedFilters", True),
    ]),
    ("cosine_topk (broadcast queries)", [
        ("query side broadcast", "BroadcastNestedLoopJoin", True),
    ]),
    ("token_counts (pure codegen)", [
        ("whole-stage codegen", "codegen id", True),
        ("no Python UDF in plan", "BatchEvalPython", False),
        ("no Arrow eval either (pure JVM)", "ArrowEvalPython", False),
    ]),
    ("tx_rollup_1m_salted (A6 two-phase)", [
        ("phase-1 map-side partial aggregation", "partial_count", True),
        ("no Python anywhere", "EvalPython", False),
    ]),
    ("tx_phenology (A3 relational)", [
        ("profile stage partially aggregated map-side", "partial_count", True),
        ("no Python anywhere (pure Catalyst)", "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("tx_retention (eviction anti-join)", [
        ("left anti join (retained = fine MINUS evictable)", "LeftAnti", True),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("tx_rollup_1m_adaptive (selective salting)", [
        ("hot-key set broadcast to the flagging join", "BroadcastHashJoin", True),
        ("both paths partially aggregated map-side", "partial_count", True),
        ("no Python anywhere", "EvalPython", False),
    ]),
    ("embedding_near_dups (LSH + exact cosine)", [
        ("no cartesian product (bucketed candidates only)", "CartesianProduct", False),
        ("no Python anywhere", "EvalPython", False),
    ]),
    ("curate_training (composed round-5 signals)", [
        ("no Python anywhere", "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
        ("final assembly joins move ids+scalars, text pruned upstream",
         "ReadSchema", True),
    ]),
    ("lm_score (unigram LM quality signal)", [
        ("word LM counts partially aggregated map-side", "partial_count", True),
        ("no Python anywhere", "EvalPython", False),
        ("no cartesian product (1-row total is a broadcast NL join)",
         "CartesianProduct", False),
    ]),
    ("shuffle_export (two-phase global order)", [
        ("rank window partitioned by the range-partition id (parallel)",
         "windowspecdefinition(_part", True),
        ("never collapses to one reducer", "SinglePartition", False),
        ("offsets broadcast back", "BroadcastHashJoin", True),
        ("no Python anywhere", "EvalPython", False),
    ]),
    ("decontaminate_fuzzy (broadcast-eval Jaccard)", [
        ("eval shingles broadcast to the train side", "BroadcastHashJoin", True),
        ("no Python anywhere", "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("dup_ngram_spans (ExactSubstr coverage)", [
        ("gram counting partially aggregated map-side", "partial_count", True),
        ("no Python anywhere (sequence/slice grams, window merge)",
         "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("semdedup (clustered semantic dedup)", [
        ("no cartesian product (pairs join WITHIN clusters only)",
         "CartesianProduct", False),
        ("codebook assignment is one Arrow mapInPandas stage", "MapInPandas", True),
        ("no row-at-a-time Python", "BatchEvalPython", False),
    ]),
    ("ivf_topk (IVF probe join)", [
        ("probe table broadcast (corpus side never shuffles for the join)",
         "BroadcastHashJoin", True),
        ("no cartesian product", "CartesianProduct", False),
        ("codebook sims are JVM expressions, no Python", "EvalPython", False),
    ]),
    ("ivf_topk_b256 (broadcast-codebook IVF)", [
        ("codebook assignment is ONE Arrow mapInPandas stage (no literal "
         "explosion at 256x64; plan size O(1) in the codebook)", "MapInPandas", True),
        ("probe table broadcast (corpus side never shuffles for the join)",
         "BroadcastHashJoin", True),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("tx_commission_omission (P1-P3 grouped-map)", [
        ("single grouped-map Python stage — postprocess reuses the CCDC "
         "pass, zero extra exchanges", "FlatMapGroupsInPandas", True),
        ("text pruned before the conv shuffle", "ReadSchema", True),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("events_sessionize (gaps-and-islands, 1 shuffle)", [
        ("window lag/cumsum pass present", "Window", True),
        ("session agg reuses the window's HashPartitioning(user_id) — the "
         "subset rule means NO second exchange: exactly one Exchange in "
         "the whole plan", "+- Exchange", 1),
        ("no Python anywhere", "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("pii_redact (Catalyst regex scan+redact)", [
        ("no Python anywhere", "EvalPython", False),
        ("no exchange at all — pure per-row map over the scan", "Exchange", False),
    ]),
    ("text_repetition (array ngrams + word share)", [
        ("partial aggregation map-side", "partial_", True),
        ("no Python anywhere", "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("multimodal_png (real compressed decode, mapInPandas)", [
        ("decode is Arrow-batched mapInPandas", "MapInPandas", True),
        ("zero shuffle (no Exchange)", "Exchange", False),
    ]),
    ("minhash_pairs (LSH band join, capped)", [
        ("bucket-size cap applied via broadcast semi-side", "BroadcastHashJoin", True),
        ("no cartesian product", "CartesianProduct", False),
        ("no Python anywhere", "EvalPython", False),
    ]),
    ("multimodal_jpeg (baseline-DCT decode, mapInPandas)", [
        ("decode is Arrow-batched mapInPandas", "MapInPandas", True),
        ("zero shuffle (no Exchange)", "Exchange", False),
    ]),
    ("tfidf_topk (explode + 2 hash-agg + vocab join)", [
        ("map-side partial counts on (doc,term)", "partial_count", True),
        ("no cartesian product (scalar N is broadcast-NLJ)", "CartesianProduct", False),
        ("pure Catalyst, no Python", "EvalPython", False),
    ]),
    ("bm25_topk (filtered postings + TakeOrdered)", [
        ("top-k is TakeOrderedAndProject, not a global sort",
         "TakeOrderedAndProject", True),
        ("tiny df side broadcast", "BroadcastHashJoin", True),
        ("no cartesian product", "CartesianProduct", False),
        ("pure Catalyst, no Python", "EvalPython", False),
    ]),
    ("sample_hash (narrow deterministic filter)", [
        ("zero shuffle (filter runs in the scan stage)", "Exchange", False),
        ("unreferenced text column pruned from the read", "text", False),
    ]),
    ("curate_corpus (staged pipeline decision table)", [
        ("no cartesian product anywhere in the composed plan",
         "CartesianProduct", False),
        ("pure Catalyst, no Python", "EvalPython", False),
        ("stage-restriction joins broadcast the id sets",
         "BroadcastHashJoin", True),
    ]),
    ("hll_distinct (MAX-merged registers, m=4096)", [
        ("register max partial-aggregates map-side (a map task ships at "
         "most m rows per group, not its row count)", "partial_max", True),
        ("pure Catalyst, no Python", "EvalPython", False),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("hdr_quantiles (integer log-histogram + rational ranks)", [
        ("corpus shuffle carries partial (group, bucket) counts",
         "partial_count", True),
        ("quantile table is broadcast", "BroadcastNestedLoopJoin", True),
        ("pure Catalyst, no Python", "EvalPython", False),
    ]),
    ("decontaminate (broadcast bench n-grams vs train explode)", [
        ("eval-sized n-gram set broadcast, never shuffled on the corpus",
         "BroadcastHashJoin", True),
        ("no cartesian product", "CartesianProduct", False),
        ("pure Catalyst, no Python", "EvalPython", False),
    ]),
    ("chunk_docs (in-row window expand + explode)", [
        ("zero shuffle — chunking runs at scan bandwidth", "Exchange", False),
        ("pure Catalyst, no Python", "EvalPython", False),
        ("only doc_id+text read", "ReadSchema: struct<doc_id:bigint,text:string>",
         True),
    ]),
    ("pack_docs (applyInPandas fold per (source, shard))", [
        ("one shuffle on the bounded (source, shard) fold domain",
         "+- Exchange", 1),
        ("the fold itself is Arrow-batched FlatMapGroupsInPandas",
         "FlatMapGroupsIn", True),
        ("text pruned before the shuffle — only (doc_id, source, shard, dl) "
         "ride the exchange", "ReadSchema: struct<doc_id:bigint,text:string,"
         "source:string>", True),
    ]),
    ("sample_stratified (one window shuffle on the stratum key)", [
        ("exactly one exchange", "+- Exchange", 1),
        ("rank is a Window, no join", "Window", True),
        ("partial top-k runs BEFORE the shuffle — each map task ships at "
         "most n rows per stratum, so a hot stratum's shuffle volume is "
         "n x maps, not the stratum size", "WindowGroupLimit", True),
    ]),
    ("heavy_hitters (adaptive prefilter, r6)", [
        # At this cardinality (values repeat ~500x) the sampled decision
        # takes the plain exact plan: map-side partials already bound the
        # shuffle, so the sketch passes would be pure overhead. The sketch
        # branch remains for the high-cardinality regime (prefilter=
        # "always" pins it; tested path-equal in test_sketches.py).
        ("adaptive prefilter skips sketch joins here", "BroadcastHashJoin", False),
        ("no sort-merge join anywhere", "SortMergeJoin", False),
        ("final exact count partial-aggregates map-side", "partial_count", True),
    ]),
    ("cms_estimate (depth broadcast probes over the counter table)", [
        ("broadcast hash joins, not SMJ", "BroadcastHashJoin", True),
        ("no sort-merge join anywhere", "SortMergeJoin", False),
    ]),
    ("pca_project (literal-loadings projection)", [
        ("projection is narrow: the ONLY exchange is the presentation "
         "orderBy's range partitioning", "+- Exchange", 1),
        ("no Python in the projection path (Catalyst literals)",
         "ArrowEvalPython", False),
        ("scan prunes to id + vector", "ReadSchema", True),
    ]),
    ("zorder_events (Morton key, pure Catalyst)", [
        ("key math is Project expressions over the scan (no UDF nodes)",
         "MapInPandas", False),
        ("no Python anywhere", "ArrowEvalPython", False),
        ("only the final presentation sort exchanges", "+- Exchange", 1),
    ]),
    ("pq_adc_topk (codes scan + ranking window)", [
        ("exactly two exchanges: the ranking window + the presentation "
         "sort; encode->ADC is exchange-free map work", "+- Exchange", 2),
        ("partial top-k below the exchange bounds shuffle volume",
         "WindowGroupLimit", True),
        ("no join at serve time (LUTs are broadcast variables)",
         "Join", False),
    ]),
    ("bloom_join (bitmap lookups prune fact pre-exchange)", [
        ("every bitmap word-lookup is a broadcast join (never a shuffle "
         "of fact)", "BroadcastHashJoin", True),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("tx_locf (gap-fill + LOCF windows)", [
        ("window functions present (lag for holes, last for carry)",
         "Window", True),
        ("no join in the fill path (sequence+explode, not grid join)",
         "SortMergeJoin", False),
    ]),
    ("tx_twa (lead-window + decimal-exact agg)", [
        ("map-side partial aggregation present", "partial_", True),
        ("text pruned before the shuffle (only length survives)",
         "ReadSchema", True),
    ]),
    ("tx_lttb (bounded downsample, one grouping pass)", [
        ("applyInPandas grouping present", "FlatMapGroupsInPandas", True),
        ("no cartesian product", "CartesianProduct", False),
    ]),
    ("tx_rate (counter window + agg on the same key)", [
        ("map-side partial aggregation present", "partial_", True),
        ("no join anywhere in the rate path", "Join", False),
    ]),
    ("tx_deriv (sum128 LS moments, one agg)", [
        ("map-side partial aggregation present", "partial_", True),
        ("no join anywhere in the slope path", "Join", False),
        ("per-series min() window eliminated (constant-shift moments, r6)",
         "Window", False),
        ("no python in the moment path (pure Catalyst int64/decimal)",
         "FlatMapGroupsInPandas", False),
    ]),
    ("tx_anomaly (rolling integer z-test, one window shuffle)", [
        ("window frame present", "Window", True),
        ("no join / no python row path", "Join", False),
        ("no python UDF (pure Catalyst decimals)", "Python", False),
    ]),
    ("tx_asof_tool (union-stream as-of: ONE window shuffle, no join)", [
        ("window pass present", "Window", True),
        ("NO join operator anywhere (union-stream formulation)",
         "Join", False),
        ("text column pruned from both scans", "text", False),
    ]),
    ("tx_hll_cascade (register MAX-merge serve path)", [
        ("map-side partial MAX before the corpus shuffle", "partial_max", True),
        ("no join in the merge path", "Join", False),
    ]),
    ("tx_hdr_cascade (sketch merge serve path)", [
        ("map-side partial counts before the corpus shuffle", "partial_", True),
        ("quantile table broadcast (never shuffled against the sketch)",
         "BroadcastNestedLoopJoin", True),
        ("text column itself pruned (only length read)", "ReadSchema", True),
    ]),
    ("tx_ccf (lead-lag moments: one window pass + one agg, shared conv key)", [
        ("window pass present", "Window", True),
        ("no join", "Join", False),
        ("no python UDF (pure Catalyst decimals)", "BatchEvalPython", False),
    ]),
    ("tx_sax (PAA via row windows + agg on the series key)", [
        ("window pass present", "Window", True),
        ("no join on the letter path", "SortMergeJoin", False),
        ("no python UDF", "BatchEvalPython", False),
    ]),
    ("tx_alert_episodes (islands: window + agg reuse ONE exchange)", [
        ("window pass present", "Window", True),
        ("no join", "Join", False),
        ("no python UDF", "BatchEvalPython", False),
    ]),
    ("tx_dist_shift (chi2 halves: window + two aggs, one conv shuffle)", [
        ("window pass present", "Window", True),
        ("map-side partial agg on the bucket counts", "partial_", True),
        ("no join", "Join", False),
        ("no python UDF", "BatchEvalPython", False),
    ]),
    ("tx_matrix_profile (bounded O(n^2) kernel per conv, one group shuffle)", [
        ("applyInPandas group map (Arrow, not per-row python)",
         "FlatMapGroupsInPandas", True),
        ("no join", "Join", False),
        ("text column pruned from scan", "text", False),
    ]),
    ("tx_theilsen (pairwise-median kernel per conv)", [
        ("applyInPandas group map (Arrow, not per-row python)",
         "FlatMapGroupsInPandas", True),
        ("no join", "Join", False),
        ("text column pruned from scan", "text", False),
    ]),
    ("tx_swing (retention codec: one group shuffle, Arrow kernel)", [
        ("applyInPandas group map (Arrow, not per-row python)",
         "FlatMapGroupsInPandas", True),
        ("no join", "Join", False),
        ("text column pruned from scan", "text", False),
    ]),
    ("tx_bursts (raw-arrival Viterbi per conv, one group shuffle)", [
        ("applyInPandas group map (Arrow, not per-row python)",
         "FlatMapGroupsInPandas", True),
        ("no join", "Join", False),
        ("text column pruned from scan", "text", False),
    ]),
    ("tx_dtw_rerank (bucket pairs -> exact DTW: joins on bounded candidates only)", [
        ("Arrow batch pass for the DTW kernel (mapInPandas)",
         "MapInPandas", True),
        ("hot-word anti-join is broadcast (tiny hot set)",
         "BroadcastHashJoin", True),
        ("text column pruned from scan", "text", False),
    ]),
    ("tx_left_profile (bounded-history novelty kernel per conv)", [
        ("applyInPandas group map (Arrow, not per-row python)",
         "FlatMapGroupsInPandas", True),
        ("no join", "Join", False),
        ("text column pruned from scan", "text", False),
    ]),
    ("events_funnel (MIN-based step chain: hash joins on the user key, no windows)", [
        ("map-side partial MIN per step", "partial_min", True),
        ("rate base broadcast (one row)", "BroadcastNestedLoopJoin",
         True),
        ("no python UDF", "BatchEvalPython", False),
        ("props column pruned from scan", "props", False),
    ]),
    ("tx_realtime_view (materialized tier UNION fresh-tail rollup)", [
        ("union serve path present", "Union", True),
        ("map-side partial agg on the fresh tail", "partial_count", True),
        ("no python UDF", "BatchEvalPython", False),
        ("text pruned (only length read)", "ReadSchema", True),
    ]),
    ("events_cohorts (cohort MIN + distinct + co-partitioned join)", [
        ("map-side partial MIN for cohort assignment", "partial_min",
         True),
        ("no python UDF", "BatchEvalPython", False),
        ("props column pruned from scan", "props", False),
    ]),
    ("tx_topk_slots (rank-limit: partial WindowGroupLimit below the exchange)", [
        ("partial WindowGroupLimit planned (hot conv ships k x maps "
         "rows, not its series)", "WindowGroupLimit", True),
        ("no join", "Join", False),
    ]),
    ("route_range over materialized tiers (tier-routing serve path)", [
        ("window_start range pushed to tier scans",
         "PushedFilters: [IsNotNull(window_start), GreaterThanOrEqual(window_start", True),
        ("fresh-tail ts range pushed to the raw scan",
         "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts", True),
        ("union serve path present", "Union", True),
        ("one partial+final agg pair, nothing more (each op appears "
         "twice in formatted output)", "HashAggregate", 4),
        ("exactly ONE exchange for the whole request", "Exchange", 2),
        ("no python UDF", "BatchEvalPython", False),
    ]),
    ("route_range through compressed chunks (evicted-history serve)", [
        ("chunk_start range pushed to the CHUNK scan (prune before "
         "decode)", "GreaterThanOrEqual(chunk_start", True),
        ("anti-join dedup of the compressed/live overlap", "LeftAnti", True),
        ("decode is mapInPandas (Arrow), not row-at-a-time python",
         "MapInPandas", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
    ]),
    ("bpe_token_counts (real BPE: distinct-word tokenize + broadcast join back)", [
        ("distinct-word kernel feeds a BROADCAST join back to the "
         "exploded docs (never a shuffle of the corpus against the "
         "vocab)", "BroadcastHashJoin", True),
        ("tokenize kernel is a grouped Arrow UDF over DISTINCT words "
         "only", "FlatMapGroupsInPandas", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
        ("text column pruned after pretokenization (explode output "
         "carries word, not text)", "ReadSchema: struct<doc_id:bigint,text:string>", True),
    ]),
    ("pack_docs_bpe (BPE lengths joined into the next-fit fold)", [
        ("fold is a grouped Arrow UDF per (source, shard)",
         "FlatMapGroupsInPandas", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("gopher_rules (full rule battery: one linear projection)", [
        ("zero shuffles — pure per-row Catalyst", "Exchange", 0),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        # higher-order array lambdas are not WSCG-supported; the property
        # that matters is that each array traversal runs ONCE per row
        # (two stacked projections — CollapseProject keeps non-cheap
        # expressions out-of-line), not 8x per referencing column
        ("word split+filter evaluated exactly once per row",
         "split(trim(text", 1),
        ("line split evaluated exactly once per row (word split uses "
         "trim, so the two don't collide)", "split(text", 1),
    ]),
    ("tx_periodogram (harmonic power scan over the gap-filled grid)", [
        ("per-(conv,period) moments partially aggregated map-side",
         "partial_count", True),
        ("period fan-out is a Generate (explode), not a join",
         "Generate", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("dsir_weights (hashed n-gram importance weights)", [
        ("bounded ratio dim BROADCASTS back onto the checkpointed gram table",
         "BroadcastHashJoin", True),
        # r6: the tokenize+hash pass runs ONCE into a checkpointed
        # (doc, flag, bucket, k) table; the visible plan aggregates that
        # table (partial_sum of k) — the old triple-recomputed
        # partial_count subtrees are gone.
        ("bucket multiplicities partially aggregated map-side",
         "partial_sum", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("c4_clean (line-rule battery, byte-exact rewrite)", [
        ("zero shuffles — pure per-row Catalyst", "Exchange", False),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
    ]),
    ("para_dedup (canonical-instance paragraph dedup + reassembly)", [
        ("paragraph fan-out is a Generate (posexplode)", "Generate", True),
        ("canonical-owner agg is partial+final on the paragraph hash",
         "partial_min", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("remove_dup_spans (ExactSubstr removal rewrite)", [
        ("gram fan-out is a Generate (posexplode)", "Generate", True),
        ("gram counts partially aggregated map-side", "partial_count", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("dsir_select (deterministic resampling cut)", [
        ("no one-reducer global window (rank is range-partitioned)",
         "Exchange SinglePartition", False),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
    ]),
    ("datamix_report (per-source curation telemetry)", [
        ("source rollup partially aggregated map-side", "partial_count", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("tx_kalman (state-space smoother via grouped Arrow UDF)", [
        ("kernel drives through ONE grouped Arrow UDF",
         "FlatMapGroupsInPandas", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
    ]),
    ("tx_compact (chunk compaction feeding the chunk-serve path)", [
        ("compaction is a grouped Arrow UDF per (conv, tier)",
         "FlatMapGroupsInPandas", True),
        ("chunk decode on the serve side is mapInPandas (no shuffle)",
         "MapInPandas", True),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
    ("tx_response_latency (forward-frame pairing + selection ranks)", [
        ("forward-frame window, rank window and final agg all share the "
         "conv partitioning: exactly one Exchange", "+- Exchange", 1),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
    ]),
    ("weighted_sample (A-ES draw via shared global_rank)", [
        ("no one-reducer global window (rank is range-partitioned)",
         "Exchange SinglePartition", False),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
    ]),
    ("tx_tool_transitions (Markov counts over tool sequences)", [
        ("text pruned at the scan (only conv/turn/tool read)",
         "text", False),
        ("no row-at-a-time python UDF", "BatchEvalPython", False),
        ("no cartesian product", "Cartesian", False),
    ]),
]

CASES = [pytest.param(section, label, needle, want, id=f"{section.split(' (')[0]}-{i}")
         for section, checks in SECTIONS for i, (label, needle, want) in enumerate(checks)]


@pytest.fixture(scope="module")
def plans(spark, tmp_path_factory):
    return Plans(spark, SF_DIR, str(tmp_path_factory.mktemp("plans")))


@pytest.mark.parametrize("section,label,needle,want", CASES)
def test_plan_shape(plans, section, label, needle, want):
    assert holds(plans.section_plan(section), needle, want), f"{section}: {label}"


def test_checkpoints_go_through_materialize():
    """``conf.materialize`` is the one localCheckpoint, so replacing it
    reaches every checkpoint the plans above would otherwise stop at."""
    pkg = Path(conf.__file__).parent
    hits = {p.relative_to(REPO).as_posix()
            for p in [*pkg.rglob("*.py"), REPO / "__spark_entry__.py"]
            if "localCheckpoint(" in p.read_text()}
    assert hits == {"yatsm_spark/conf.py"}
