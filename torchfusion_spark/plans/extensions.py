"""Registry entries for the extension operators (SURVEY §2-D): dedup,
similarity search, text analysis, sessionization, as-of join. The Spark
plan and the DuckDB oracle come from the same dialect-parameterized
generator, so the gate verifies algorithmic equivalence, not just both
sides being plausible."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from torchfusion_spark import streaming
from torchfusion_spark.operators import (
    dedup,
    events_ops,
    multimodal,
    retrieval,
    similarity,
    textstats,
)
from torchfusion_spark.plans.registry import query
from torchfusion_spark.staging import stage


def _sql_pair(name: str, gen, doc: str) -> None:
    @query(name, gen("duck"), doc=doc)
    def _run(spark: SparkSession, sf_dir: str, _gen=gen) -> DataFrame:
        return spark.sql(_gen("spark"))

    _run.__name__ = name


_sql_pair(
    "dedup_exact",
    dedup.exact_dedup_sql,
    "exact dedup: one shuffle on content hash, deterministic winner per group",
)
_sql_pair(
    "sample_temperature_mixture",
    textstats.temperature_mixture_sql,
    "temperature-scaled mixture sampling (XLM-R/mT5 exponentiated "
    "multinomial, alpha=0.3): per-language tempered shares, token "
    "targets, keep rates and upsample repeat factors; DECIMAL-summed "
    "normalizer, one tiny rollup — nothing after the first aggregate "
    "scales with the corpus",
)
_sql_pair(
    "sample_upsample_epochs",
    textstats.upsample_epochs_sql,
    "materialize the temperature-mixture repeat factors into concrete "
    "per-doc training copies (the XLM-R/mT5 epoch list): whole copies = "
    "target DIV avail, the fractional remainder selects docs by "
    "portable-hash lottery via exact 128-bit cross-multiplication; "
    "|languages|-row plan broadcasts onto one scan, per-row sequence "
    "fan-out, zero data-sized shuffles",
)
_sql_pair(
    "corpus_url_filter",
    textstats.url_filter_sql,
    "URL-quality filter (C4/RefinedWeb pre-canonicalization pass): "
    "blocklisted hosts, asset extensions, path depth, dynamic-param and "
    "digit-path rules as exact 0/1 flags + keep decision — one scan, "
    "zero shuffles, runs ahead of every content stage",
)
_sql_pair(
    "pipeline_quality_gate",
    textstats.quality_gate_sql,
    "composed per-doc keep decision (FineWeb-style): Gopher rules AND "
    "source-level gate AND canonical-URL keeper, fused in one plan with "
    "reason-coded drops; the source rollup broadcasts, the doc-keyed "
    "joins co-partition on doc_id",
)
_sql_pair(
    "dedup_url_canonical",
    dedup.url_canonical_dedup_sql,
    "URL-canonicalization dedup (C4/RefinedWeb first pass): strip "
    "fragment/default port/tracking params, lowercase host, sort params, "
    "keep earliest crawl per canonical URL — one shuffle (keeper window), "
    "canonicalization at scan speed",
)
@query(
    "dedup_url_incremental",
    dedup.url_incremental_equiv_sql("duck"),
    doc="recurring-crawl URL dedup (VERDICT r9 item 5): the canonical-URL "
    "seen-set over the earlier crawl half persists as (canonical_url, "
    "keeper) parquet — structurally unable to re-canonicalize — and the "
    "new batch canonicalizes at scan speed and probes it via broadcast, "
    "so the 100 TB index side never shuffles; oracle = the full-corpus "
    "canonical dedup over index ∪ batch restricted to batch docs (the "
    "crawl-order equality the pytest witness already pins)",
)
def dedup_url_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.url_incremental_query(spark)
@query(
    "dedup_minhash_lsh",
    dedup.minhash_lsh_sql("duck"),
    doc="MinHash(16 perms)+LSH(8 bands) near-dup pairs with exact Jaccard "
    "verify; Spark side stages the shingle relation through cache() since "
    "the plan references it 4×",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh(spark)
@query(
    "dedup_simhash",
    dedup.simhash_sql("duck"),
    doc="32-bit SimHash signatures; banded candidates + Hamming<=2 pairs; "
    "Spark side caches the signature relation across the self-join",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(spark)


@query(
    "dedup_ngram_jaccard",
    dedup.ngram_jaccard_sql("duck"),
    doc="char-5-gram Jaccard near-dup within (lang, length-bucket) blocks; "
    "Spark side caches the shingle-set relation across the self-join",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard(spark)
@query(
    "dedup_containment",
    dedup.containment_sql("duck"),
    doc="containment near-dup (doc-inside-doc) via inverted shingle "
    "index: df-pruned word-3-gram hashes, one shuffle on the shingle "
    "hash, candidates bounded by C(max_df,2) per shingle — catches the "
    "subset dups Jaccard's size-ratio prefilter excludes",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment(spark)


@query(
    "dedup_substring",
    dedup.substring_sql("duck"),
    doc="exact-substring dedup (public suffix-array method re-expressed "
    "relationally): positional word-8-gram hashes, cross-document "
    "duplicated grams merged into maximal spans by gaps-and-islands — "
    "linear (never pairwise) in hot-gram occurrences; Spark side stages "
    "the positional-gram relation referenced on both aggregate and join "
    "sides",
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_substring(spark)


@query(
    "sim_cosine_topk",
    similarity.cosine_topk_sql("duck"),
    doc="exact top-k cosine ANN baseline: broadcast queries, per-query TopK "
    "window; Spark side stages/caches the norm relation",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(spark)


@query(
    "sim_cosine_near_dup",
    similarity.cosine_near_dup_sql("duck"),
    doc="exact cosine near-dup baseline, gated to vec_id < EXACT_PAIRS_CAP "
    "(no unbounded quadratic plan is registered; LSH query is the scale path)",
)
def sim_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_near_dup(spark)


@query(
    "sim_cosine_near_dup_lsh",
    similarity.cosine_near_dup_lsh_sql("duck"),
    doc="multi-band sign-LSH (r16: 4 bands × 16 sign bits, 64 hyperplanes) "
    "bucketed cosine near-dup — the 100TB path; candidate pairs = union over "
    "bands of same-(band,bucket) pairs, per-band hot cap 4096 (identical in "
    "the oracle), map-combinable pair-dedup GROUP BY; Spark side stages the "
    "64 plane dots once. Oversized buckets are genuine near-identical "
    "clusters and belong to sim_near_dup_collapse; measured ≥0.42-band pair "
    "recall 0.057/0.024 → 0.926/0.926 at sf1/sf3 (sim_ann_recall_audit)",
)
def sim_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_near_dup_lsh(spark)


@query(
    "sim_near_dup_collapse",
    similarity.near_dup_collapse_sql("duck"),
    doc="mega-cluster collapse for embedding near-dups: each LSH bucket's "
    "members compare against the bucket ANCHOR only (O(N), never a "
    "within-bucket self-join) and emit one canonical row per cluster — "
    "bounded output where the pair query emits C(n,2); Spark side shares "
    "the staged bucket relation with sim_cosine_near_dup_lsh",
)
def sim_near_dup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.near_dup_collapse(spark)


@query(
    "sim_ivf_topk",
    similarity.ivf_topk_sql("duck"),
    doc="IVF-style ANN: deterministic centroids → inverted lists → probe 4 "
    "of 16 lists per query; broadcast centroid joins, inverted-list-key "
    "shuffle — the sub-brute-force scale path",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(spark)


@query(
    "sim_ann_recall_audit",
    similarity.ann_recall_audit_sql("duck"),
    doc="recall audit for the approximate-ANN paths (r15; r16 adds the "
    "n_approx_only invariant column and audits the multi-band LSH): IVF "
    "top-k recall@k vs the exact brute-force top-k on the same query set, "
    "and capped multi-band sign-LSH pair recall vs the exact gated pair "
    "scan — the measured price of hot-bucket exclusion, as a hash-checked "
    "witness; components referenced once each (FULL OUTER hit counting), "
    "zero-guarded recall division, lp⊆ep observable as n_approx_only=0",
)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_recall_audit(spark)
_sql_pair(
    "text_quality_stats",
    textstats.text_quality_sql,
    "length/punct/stopword/digit ratios + composite quality score",
)
@query(
    "corpus_strip_dup_spans",
    dedup.strip_dup_spans_sql("duck"),
    doc="exact-substring dedup ACTION step: remove every duplicated span "
    "from all but its earliest document (gram-owner = MIN(doc_id)), emit "
    "per-doc before/removed/kept token counts + cleaned-text fingerprint; "
    "linear in gram occurrences, never doc-pairwise",
)
def corpus_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.strip_dup_spans(spark)


@query(
    "corpus_strip_boilerplate_lines",
    dedup.strip_boilerplate_lines_sql("duck"),
    doc="C4/RefinedWeb line-level boilerplate removal — the third dedup "
    "granularity: drop EVERY occurrence of any line repeated >= 3 times "
    "corpus-wide (the nav-bar/cookie-banner killer), rebuild each doc "
    "from its kept lines in order; map-combinable line-hash rollup + "
    "broadcast anti-join probe — the corpus side never shuffles on the "
    "probe and a hot line costs one count, never pairs. FIXTURE CAVEAT "
    "(ADVICE r14 #4): the single-paragraph fixture corpus has no real "
    "newlines, so the registered 'lines' are LINE_W=3 token blocks "
    "(dedup.LINE_W) and committed artifact numbers measure block "
    "semantics, not '\\n'-line semantics; the downstream rollup/probe "
    "body is line-rule-agnostic, but swapping lines_rel_sql to a real "
    "split-on-newline explode changes every committed result",
)
def corpus_strip_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.strip_boilerplate_lines(spark)


@query(
    "text_decontaminate_spans",
    textstats.decontaminate_spans_sql("duck"),
    doc="span-level benchmark decontamination: strip exactly the benchmark-"
    "overlapping spans (positional 8-gram coverage) from corpus docs and "
    "rebuild the cleaned text — drop the quote, keep the doc; shares the "
    "strip/rebuild tail with corpus_strip_dup_spans",
)
def text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.decontaminate_spans(spark)


_sql_pair(
    "corpus_source_filter",
    textstats.source_filter_sql,
    "per-source (domain-level) quality gate: mean micro-quality + corpus-"
    "wide dup fraction per source, keep decision by exact BIGINT "
    "cross-multiplication against the corpus mean",
)
_sql_pair(
    "text_gopher_rules",
    textstats.gopher_rules_sql,
    "Gopher-style quality-rule filter (Rae et al. 2021): seven published "
    "document heuristics as exact 0/1 flags + keep decision, every "
    "threshold an exact BIGINT cross-multiplication; single-scan codegen, "
    "zero joins/shuffles",
)
_sql_pair(
    "text_lang_id",
    textstats.lang_id_sql,
    "marker-word language ID with deterministic tie-break",
)
_sql_pair(
    "text_token_count",
    textstats.token_count_sql,
    "whitespace vs BPE-ish regex token counts",
)
_sql_pair(
    "text_fingerprint",
    textstats.fingerprint_sql,
    "normalized-content 56-bit fingerprint + duplicate groups",
)
_sql_pair(
    "events_sessionize",
    events_ops.sessionize_sql,
    "sessionization: lag-gap + running-sum window, 30-min inactivity",
)


@query(
    "multimodal_features",
    multimodal.FEATURES_ORACLE,
    doc="binary payload + typed metadata; byte-level feature extraction via "
    "Arrow-batched mapInPandas (real decode stubbed: no codec libs in env)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.features_query(spark)


@query(
    "multimodal_frame_sample",
    multimodal.FRAMES_ORACLE,
    doc="frame sampling over binary payloads: 1→N fan-out mapInPandas (the "
    "video frame-extraction shape; decoder stubbed to byte slicing)",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.frames_query(spark)


@query(
    "multimodal_resize",
    multimodal.RESIZE_ORACLE,
    doc="decode→resize stub: stride-downsample payload to a fixed-width "
    "int vector via mapInPandas (image thumbnail shape, codec stubbed)",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.thumbnail_query(spark)


@query(
    "stream_windowed_counts",
    """
    SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    doc="Structured Streaming tumbling-window counts (watermark + window agg, "
    "availableNow over the bounded source); oracle = the batch equivalent",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.windowed_counts(spark, sf_dir)


@query(
    "stream_dedup_counts",
    """
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
    doc="streaming exact-dedup (dropDuplicatesWithinWatermark on event_id) "
    "then counts per type; oracle = batch distinct-then-count",
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.stream_dedup(spark, sf_dir)


@query(
    "stream_sliding_counts",
    """
    WITH w AS (
        SELECT event_type,
               unnest([(epoch_us(ts) // 300000000) * 300000000,
                       (epoch_us(ts) // 300000000) * 300000000 - 300000000]) AS ws
        FROM events)
    SELECT make_timestamp(ws) AS window_start, event_type, COUNT(*) AS n
    FROM w GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    doc="Structured Streaming sliding-window counts (10 min window / 5 min "
    "slide — each event in 2 windows); oracle enumerates both window "
    "starts per event",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.sliding_counts(spark, sf_dir)


@query(
    "dedup_minhash_clusters",
    dedup.minhash_clusters_oracle_sql(),
    doc="near-dup pairs → duplicate clusters: iterative min-label "
    "propagation (connected components) on DataFrames with per-round "
    "lineage checkpoints; oracle = recursive-CTE transitive closure",
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_clusters(spark)


@query(
    "dedup_minhash_clusters_star",
    dedup.minhash_clusters_oracle_sql(),
    doc="same clusters via alternating large-star/small-star contraction "
    "(Kiveris et al.) — O(log n) rounds instead of propagation's "
    "O(diameter), the variant deep/chain-shaped duplicate graphs need; "
    "oracle = the same recursive-CTE transitive closure",
)
def dedup_minhash_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged like dedup_minhash_clusters: the contraction loop runs once
    # per corpus, in the minhash_clusters_star build, and concurrent
    # callers share that one build
    return dedup.minhash_clusters_star(spark)


@query(
    "multimodal_dedup",
    multimodal.mm_dedup_oracle_sql(),
    doc="perceptual near-dup over the binary payload (image-dedup stage): "
    "32-bit byte-level aHash via mapInPandas (exact-integer bit rule), "
    "then the text-SimHash banded Hamming self-join generator verbatim; "
    "oracle recomputes the fingerprint in SQL and runs the same tail",
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.dedup_query(spark)


@query(
    "multimodal_frame_dedup",
    multimodal.mm_frame_dedup_oracle_sql(),
    doc="frame-level perceptual dedup (near-dup VIDEO/long-audio whose "
    "duplication is per-segment): the 1→N frame sampler feeds each "
    "sampled frame through the exact-integer aHash bit rule, frames "
    "pack into one BIGINT key (doc*2^20+idx) so the banded Hamming "
    "self-join is the text-SimHash generator verbatim, and the doc "
    "verdict is the containment shape — near-dup when either side has "
    ">= half its sampled frames matched (exact 2*matched >= n_frames), "
    "catching the short-clip-inside-long-video case",
)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.frame_dedup_query(spark)


@query(
    "pipeline_dedup_canonical",
    dedup.canonical_oracle_sql(),
    doc="composed dedup→canonical pipeline: LSH near-dup clusters joined "
    "with quality scores, best doc per cluster by (quality DESC, doc_id) "
    "— the decision table a 100 TB dedup pass ships to the filter stage; "
    "cluster-sized window partitions, bounded by the hot-bucket cap",
)
def pipeline_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_canonical(spark)


@query(
    "stream_late_eviction",
    streaming.late_eviction_oracle_sql(),
    doc="watermark/late-data EVICTION witness: deliberately backdated "
    "batches (3-file replay, one per micro-batch) through an append-mode "
    "windowed aggregation pin WHICH rows the watermark drops vs emits — "
    "Spark's split-watermark semantics (late filter = previous batch's "
    "watermark, drop iff window_end <= wm; eviction/emission = current "
    "watermark, emit iff window_end <= wm; final no-data batch at "
    "max(ts)-delay), reproduced by the oracle in exact epoch-µs BIGINT "
    "arithmetic",
)
def stream_late_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.late_eviction(spark, sf_dir)


@query(
    "stream_late_dedup",
    streaming.late_dedup_oracle_sql(),
    doc="dropDuplicatesWithinWatermark under LATE arrivals: 3-batch "
    "replay with two injected duplicate families pins the dedup-state "
    "eviction contract — late filter and state-survival both bound by "
    "the previous batch's watermark (== drops / == evicts), duplicates "
    "never refresh expiry but DO advance the watermark, and an evicted "
    "key re-emits only when the occurrences are further apart than the "
    "delay; oracle reproduces the model in exact epoch-µs BIGINTs",
)
def stream_late_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.late_dedup(spark, sf_dir)


@query(
    "stream_session_timeout",
    streaming.session_timeout_oracle_sql(),
    doc="event-time TIMER witness: per-user session-timeout state machine "
    "(open sessions in explicit group state, an event-time timeout at "
    "min(session_end)+gap, sessions closed and emitted when the watermark "
    "strictly passes end+gap — the probed strict-timer rule) over a "
    "3-batch tercile replay with 1-in-8 one-batch-late stragglers; the "
    "oracle re-derives batch assignment, the ms-floored one-behind "
    "watermark, the late rule (ts <= wm drops) and the strict emission "
    "rule in exact BIGINT µs — the sessionization idiom 100 TB streaming "
    "state machines run on registered timers",
)
def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.stateful_session_timeout(spark, sf_dir)


@query(
    "stream_stateful_user_stats",
    streaming.STATEFUL_USER_STATS_ORACLE,
    doc="custom stateful streaming operator via applyInPandasWithState: "
    "per-user running (n_events, total_value) in explicit group state; "
    "state carries exact integer hundredths (value is 2-decimal) so the "
    "emitted double is order-independent and fully hash-checked — the "
    "round-5 determinism fix that retired the registry's last "
    "rows-only row",
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.stateful_user_stats(spark, sf_dir)


@query(
    "stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) <= epoch_us(p.ts)
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800 * 1000000
    ORDER BY purchase_id, click_id
    """,
    doc="stream-stream inner join with watermarks on both sides (state "
    "expired by the 30-min time bound): purchases x same-user clicks in "
    "the preceding half hour; oracle = the batch inequality join",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.stream_stream_join(spark, sf_dir)


@query(
    "stream_session_window",
    events_ops.SESSION_WINDOW_ORACLE,
    doc="STREAMING sessionization via native session_window + watermark "
    "(dynamic-gap state merged by the streaming engine, availableNow over "
    "the bounded source); oracle = the same gaps-and-islands SQL as the "
    "batch witness",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.session_window_counts(spark, sf_dir)


@query(
    "events_session_window",
    events_ops.SESSION_WINDOW_ORACLE,
    doc="native session_window(ts, 30 min) batch aggregation — the same "
    "operator streaming sessionization uses; oracle = gaps-and-islands",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ops.session_window_agg(spark)


@query(
    "skew_salted_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
           COUNT(*) AS n,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="salted two-phase aggregation over a hot key (sum/count/min/max "
    "each with its own partial→final combiner); oracle is the direct "
    "aggregate — salting must be result-invariant",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from torchfusion_spark.operators.skew import salted_aggregate

    out = salted_aggregate(
        spark.table("lineitem"),
        ["l_returnflag"],
        {
            "total_price_dec": F.sum(F.col("l_extendedprice").cast("decimal(12,2)")),
            "n": (F.count(F.lit(1)), "count"),
            "min_price": (F.min("l_extendedprice"), "min"),
            "max_price": (F.max("l_extendedprice"), "max"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("total_price_dec").cast("double").alias("total_price"),
        F.col("n").cast("bigint").alias("n"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    ).orderBy("l_returnflag")


@query(
    "skew_salted_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="salted equi-join (big side salted, small side replicated x8); "
    "oracle is the plain join — fan-out must be result-invariant",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from torchfusion_spark.operators.skew import salted_join

    l = spark.table("lineitem").withColumnRenamed("l_orderkey", "okey")
    o = spark.table("orders").withColumnRenamed("o_orderkey", "okey")
    return (
        salted_join(l, o, "okey", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "events_asof_join",
    events_ops.ASOF_ORACLE,
    doc="as-of join (most recent click <= purchase ts per user): union-tag + "
    "last(ignoreNulls) window on Spark; DuckDB's native ASOF JOIN as oracle",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ops.asof_join(spark)


@query(
    "stream_static_join",
    """
    SELECT c_mktsegment, event_type, COUNT(*) AS n
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type
    """,
    doc="stream-static join: event stream enriched against the customer "
    "dimension per micro-batch, then windowless global agg; oracle = "
    "the batch join",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.enriched_counts(spark, sf_dir)


@query(
    "events_range_join",
    events_ops.RANGE_JOIN_ORACLE,
    doc="interval/range join (same-user event pairs within 5 min): banded "
    "equi-join on (key, ts-bin) with left side exploded to adjacent bins "
    "— one hash shuffle per side instead of the O(n*m) broadcast nested "
    "loop Spark plans for a raw interval predicate; DuckDB runs the plain "
    "inequality join as the oracle",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ops.range_join_pairs(spark)


_sql_pair(
    "pipeline_corpus_clean",
    textstats.corpus_clean_sql,
    doc="composed training-corpus pipeline (length filter -> exact-dedup "
    "winner -> per-lang stats) as ONE declarative plan: filter reaches the "
    "scan, one content-hash shuffle, one tiny rollup shuffle",
)

_sql_pair(
    "sample_hash_stratified",
    textstats.hash_stratified_sample_sql,
    doc="deterministic hash-stratified sampling (per-lang keep rates, "
    "dominant language downsampled): portable-hash bucket filter at the "
    "scan — reproducible across engines/runs, no shuffle, unlike "
    "TABLESAMPLE/rand()",
)

_sql_pair(
    "text_top_tokens",
    textstats.top_tokens_sql,
    doc="per-language top-5 tokens (heavy hitters): map-side-combined "
    "(lang, token) count then per-lang top-k window, deterministic "
    "count-then-token tie-break",
)


_sql_pair(
    "sim_quantize_int8",
    similarity.quantize_int8_sql,
    doc="symmetric per-vector int8 embedding quantization (4x storage/"
    "shuffle reduction) with end-to-end reconstruction audit: cosine of "
    "original vs reconstructed and max element error, one scan, no "
    "shuffle; floor(x+0.5) rounding is bit-identical across engines",
)


@query(
    "sim_kmeans",
    similarity.kmeans_sql("duck"),
    doc="distributed k-means trainer (Lloyd, 2 unrolled iterations): "
    "broadcast centroids for assignment (big side never shuffles), ONE "
    "map-side-combined (c_id, dim) shuffle per update, exact DECIMAL "
    "centroid sums re-quantized to 6dp each round — a bit-deterministic, "
    "hash-checkable trainer feeding the IVF index",
)
def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans(spark)


@query(
    "sim_semantic_dedup",
    similarity.semantic_dedup_sql("duck"),
    doc="SemDeDup-style semantic dedup: deterministic nearest-centroid "
    "clustering (broadcast centroids, no big-side shuffle) then greedy "
    "keep-lowest-id within cluster above a cosine threshold — quadratic "
    "term confined per cluster; Spark side stages the assignment once "
    "(referenced 3x)",
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(spark)


_sql_pair(
    "text_pii_redact",
    textstats.pii_redact_sql,
    doc="PII scrubbing (emails/URLs/long digit runs -> typed placeholders) "
    "with per-doc match counts and a redacted-text fingerprint; one scan, "
    "zero shuffles, whole-stage codegen — no Python in the hot path",
)

_sql_pair(
    "sample_weighted_topk",
    textstats.weighted_sample_sql,
    doc="weighted sampling without replacement (Efraimidis-Spirtes A-ES "
    "keys from the portable hash, w = n_chars): deterministic across "
    "engines/partitionings; one scan + per-partition TopK merge, no "
    "full sort",
)

_sql_pair(
    "sample_group_quota",
    textstats.group_quota_sample_sql,
    doc="per-language quota sampling by deterministic hash order (the "
    "data-mixture balancing op): one shuffle on the group key, quota "
    "cutoff discards losers at the first stage boundary",
)

_sql_pair(
    "text_entropy",
    textstats.entropy_sql,
    doc="character-distribution Shannon entropy per doc (gibberish/"
    "mojibake filter): 9dp-rounded DECIMAL-summed terms (float sums are "
    "accumulation-order-dependent), one map-side-combined (doc, char) "
    "count + per-doc rollup",
)

_sql_pair(
    "corpus_token_budget",
    textstats.token_budget_sql,
    doc="greedy per-language token-budget fill (mixture assembly): docs "
    "in deterministic hash order kept while the BIGINT running token "
    "total fits the budget — one per-lang window shuffle, reproducible "
    "cut across engines/runs/partitionings",
)

@query(
    "corpus_pack_sequences",
    textstats.pack_sequences_sql("duck"),
    doc="sequence packing for pretraining batches: concat-and-chunk pack "
    "assignment (pack_id = start_offset DIV seq_len) via a distributed "
    "two-level prefix sum — windowed cumsum per (lang, shard) then a tiny "
    "broadcast shard-offset relation, so no language-sized window "
    "partition at 100 TB; the tokenized input relation is session-staged "
    "pre-partitioned on (lang, shard) so the window and the shard-total "
    "rollup share ONE corpus-sized shuffle and documents is scanned/"
    "tokenized once (r15; Catalyst's CTE inlining previously re-scanned "
    "text for the rollup); BIGINT arithmetic, hash-order reproducible",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(textstats.pack_sequences_sql("spark", t_rel=stage(spark, "pack_tokens")))

@query(
    "text_dup_gram_fraction",
    textstats.dup_gram_fraction_sql("duck"),
    doc="corpus-wide duplicated n-gram fraction per doc (C4/Gopher-style "
    "inter-document repetition filter): the exploded gram relation staged "
    "ONCE (cached view / MATERIALIZED CTE — Catalyst would inline it and "
    "re-scan 6×), counted per gram hash with map-side combine, joined "
    "back, one per-doc rollup — no all-pairs",
)
def text_dup_gram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        textstats.dup_gram_fraction_sql("spark", e_rel=stage(spark, "dupgram_exploded"))
    )

@query(
    "text_bm25_topk",
    textstats.bm25_topk_sql("duck"),
    doc="Okapi BM25 top-k retrieval for a fixed query set: one shared "
    "per-doc term-frequency shuffle (staged — text_lm_perplexity reads "
    "the same relation; the doc-length window is folded into the "
    "staging build), vocab-sized df rollup broadcast with the literal "
    "queries, 1-row corpus stats cross-joined; per-term scores rounded "
    "to 9dp and summed as DECIMAL so accumulation order can never flip "
    "a ranking",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(textstats.bm25_topk_sql("spark", tf_rel=stage(spark, "unigrams")))


@query(
    "retrieval_rrf_fusion",
    retrieval.rrf_fusion_sql("duck"),
    doc="hybrid retrieval fusion (Cormack et al. 2009 RRF, k=60): fuses "
    "the BM25 top-20 and dense cosine top-20 lists per query via "
    "UNION ALL + one map-combinable GROUP BY (never a FULL OUTER join — "
    "Spark can't broadcast a full-outer side, and the union shape "
    "generalizes to R rankers); contributions ROUND(1/(60+rank),9) as "
    "DECIMAL so the fused ordering is accumulation-order-proof; both "
    "corpus-sized inputs resolve from the session-staged tf/norms "
    "relations",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.rrf_fusion(spark)


@query(
    "pipeline_rag_context",
    retrieval.rag_context_sql("duck"),
    doc="RAG context assembly (the serving-prep stage after fusion): RRF "
    "hits in fused order, each hit contributing its lead chunk (the "
    "chunk_overlap opening window), greedy char-budget prefix cut via an "
    "exact BIGINT running sum, ordered rebuild + portable content hash "
    "per query; the |Q|*k fused relation broadcasts onto ONE documents "
    "scan — the corpus side never shuffles",
)
def pipeline_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.rag_context(spark)


@query(
    "text_lm_perplexity",
    textstats.lm_perplexity_sql("duck"),
    doc="CCNet-style LM quality scoring: add-one-smoothed unigram LM "
    "trained on the corpus itself, per-doc avg negative log-prob + "
    "perplexity (entropy_sql's DECIMAL-sum determinism discipline), "
    "head/middle/tail buckets by per-language broadcast percentile cut "
    "points (quantile_cut_case — no per-lang NTILE sort, so a dominant "
    "language cannot concentrate one window partition); unigram counts "
    "broadcast onto the shared staged tf relation",
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(textstats.lm_bucket_sql("spark", stage(spark, "ppl_scored")))


@query(
    "text_quality_classifier",
    textstats.quality_classifier_sql("duck"),
    doc="trained model-based quality gate (DCLM/FineWeb-Edu-style, the "
    "classifier-filtering stage every modern public pipeline ends with): "
    "closed-form Naive Bayes log-odds over the shared 64Ki hashed "
    "unigram feature space, Gopher-pass as the derivable label, fit on "
    "the 80% portable-hash train split, scored over the FULL corpus at "
    "scan speed — the weight vector is bounded (≤V rows) and BROADCASTS; "
    "emits score, predicted class, quintile and top-40% keep flag",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        textstats.quality_classifier_bucket_sql("spark", stage(spark, "cls_scored"))
    )


@query(
    "pipeline_quality_ensemble",
    textstats.quality_ensemble_sql("duck"),
    doc="quality-signal ensembling (Nemotron-CC-style agreement buckets): "
    "Gopher verdict ∧ trained-classifier keep ∧ CCNet perplexity bucket "
    "→ per-doc agreement count, high/medium/low tier, majority keep; "
    "pure composition over the session-staged tf/label relations — one "
    "extra doc_id-keyed join over two doc-sized score relations",
)
def pipeline_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    cv, pv = stage(spark, "cls_scored", "ppl_scored")
    return spark.sql(textstats.quality_ensemble_bucket_sql("spark", cv, pv))


@query(
    "pipeline_pretrain_corpus",
    textstats.pretrain_corpus_sql("duck"),
    doc="end-to-end pretraining corpus assembly (VERDICT r9 item 4): "
    "URL-shape filter → canonical-URL dedup → quality-signal ensemble "
    "majority → benchmark decontamination (held-out eval slice + "
    "3-gram overlap) → temperature mixture → upsample fan-out → "
    "sequence packing, composed from the independently-certified "
    "fragments; one staged tf build, one label pass, one shingle pass "
    "feed checkpointed cls/ppl score relations and a checkpointed "
    "survivor set, then a |languages|-row plan drives the copy fan-out "
    "and the two-level-prefix pack — no repeated corpus scans",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(textstats.pretrain_tail_sql("spark", stage(spark, "pretrain_keep")))


@query(
    "sample_dsir_importance",
    textstats.dsir_importance_sql("duck"),
    doc="DSIR-style importance weighting (Xie et al. 2023, public): avg "
    "per-token log-likelihood ratio of a target distribution (the "
    "lang='en' slice) vs the raw corpus distribution over the paper's "
    "hashed feature space (64Ki md5 buckets — bounded and broadcastable "
    "at any corpus scale, unlike a raw web vocabulary), add-one "
    "smoothed, 9dp-DECIMAL-summed; deterministic quintile buckets + "
    "top-40% keep flag instead of the paper's Gumbel resampling; both "
    "distribution tables roll up from the shared staged tf relation",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(textstats.dsir_bucket_sql("spark", stage(spark, "dsir_scored")))


_sql_pair(
    "corpus_bpe_pairs",
    textstats.bpe_pairs_sql,
    doc="adjacent-token pair frequencies (BPE merge-candidate statistic "
    "seeding tokenizer training): pairs exploded from a hoisted token "
    "array, map-side-combined counts, deterministic global TopK",
)


@query(
    "corpus_bpe_train",
    textstats.bpe_train_sql("duck"),
    doc="iterative BPE merge training (Sennrich et al. 2016): 3 rounds of "
    "count-pairs → pick-top → greedy left-to-right merge "
    "(gaps-and-islands parity for the non-overlap rule) over the "
    "word-frequency table; the only corpus-sized work is the word "
    "rollup, read from the session-staged tf relation — every merge "
    "round is vocab-sized. Spark runs the checkpointed round loop "
    "(Catalyst CTE inlining makes the oracle's one-statement form "
    "exponential in rounds); both sides share the fragment generators",
)
def corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bpe_train(spark)


@query(
    "corpus_bpe_apply",
    textstats.bpe_apply_sql("duck"),
    doc="apply the learned BPE merges (the tokenizer inference half): "
    "per-doc word count, pre/post-merge symbol counts and compression "
    "ratio under the trained merges — segmentation runs ONCE per vocab "
    "word on the bounded symbol stream, the per-word counts broadcast "
    "onto the staged tf relation, one map-combined doc rollup; Spark "
    "embeds the memoized learned pairs as escaped literals (linear "
    "merge chain — no CTE-inlining blow-up), the oracle re-derives "
    "them in-statement via the trainer's own fragment CTEs",
)
def corpus_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bind_tf_and_merges(
        spark,
        lambda tfn, merges: spark.sql(
            textstats.bpe_apply_sql("spark", tf_rel=tfn, merges=merges)
        ),
    )

_sql_pair(
    "text_winnow_fingerprint",
    textstats.winnow_fingerprint_sql,
    doc="MOSS-style winnowing fingerprints: rolling char k-gram hashes, "
    "min per w-position window, distinct selected set per doc — any "
    "shared substring >= k+w-1 chars yields a shared fingerprint; "
    "doc-partitioned window pass (bounded partitions), one rollup",
)

_sql_pair(
    "corpus_mixture_plan",
    textstats.mixture_plan_sql,
    doc="data-mixture planning: per-source token inventory, balanced "
    "integer target allocation (budget DIV n_sources), keep-everything "
    "vs fractional-rate decision per source — the step that turns "
    "mixture weights into concrete sampling rates; one map-side rollup",
)

_sql_pair(
    "corpus_shuffle_shards",
    textstats.shuffle_shards_sql,
    doc="deterministic global training-order shuffle: reproducible "
    "(shard, pos) per doc from the portable hash of (doc_id, seed) — the "
    "order write_train_shards materializes, as an oracle-checked "
    "relation; one exchange (the window's partition-by-shard), epoch "
    "re-deals are a seed bump",
)

_sql_pair(
    "corpus_chunk_overlap",
    textstats.chunk_overlap_sql,
    doc="overlapping character-window chunking (retrieval/embedding prep): "
    "fixed windows advancing by size-overlap, trailing partial kept, "
    "portable content hash per chunk — pure per-row fan-out at the scan, "
    "zero shuffles, no Python",
)

_sql_pair(
    "sample_train_split",
    textstats.train_split_sql,
    doc="deterministic train/val/test split matrix by portable hash bucket "
    "(doc-hash % 100): reproducible across engines/runs/partitionings, "
    "membership is a per-row scan filter (no join) when materializing one "
    "split; one tiny map-side-combined rollup",
)

_sql_pair(
    "events_retention",
    events_ops.retention_sql,
    doc="cohort retention matrix (first-seen week x week-offset): "
    "map-side-combined MIN per user, user-key co-partitioned join back, "
    "tiny rollup — integer epoch-day arithmetic, no timezone semantics",
)

_sql_pair(
    "events_anomaly_zscore",
    events_ops.anomaly_zscore_sql,
    doc="per-type z-score outliers (|z| >= 3) from exact DECIMAL moments "
    "(s1/s2 sums are order-independent, unlike float avg/stddev, so "
    "z-scores hash-match cross-engine); tiny moment relation broadcast "
    "back onto one scan",
)


@query(
    "stream_stateful_cents",
    streaming.STATEFUL_CENTS_ORACLE,
    doc="custom stateful streaming with bit-deterministic integer-cents "
    "state — fully hash-checked against the batch oracle (the float "
    "variant is rows-only by necessity): one (n, cents) state struct per "
    "user in applyInPandasWithState",
)
def stream_stateful_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming.stateful_cents(spark, sf_dir)


_sql_pair(
    "text_repetition",
    textstats.repetition_sql,
    doc="Gopher-style repetition metrics (top-token ratio, distinct-token "
    "ratio) per doc: map-side-combined (doc, token) counts then one "
    "per-doc rollup — the corpus-quality repetition filter",
)

@query(
    "text_decontaminate",
    textstats.decontaminate_sql("duck"),
    doc="benchmark decontamination: corpus docs sharing >= 5 word-3-gram "
    "hashes with the benchmark slice (doc_id%50==0 stand-in); benchmark "
    "shingles broadcast, corpus shuffles once on the shingle hash; Spark "
    "side reads the per-session staged shingle relation",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(textstats.decontaminate_sql("spark", sh_rel=stage(spark, "hx_shingles")))


@query(
    "text_decontaminate_bloom",
    textstats.decontaminate_bloom_sql("duck"),
    doc="Bloom-prefiltered decontamination (the 100 TB shape): benchmark "
    "shingles fold into a fixed 64 KB bit_or-aggregated filter, corpus "
    "shingles probe it via k=2 broadcast joins (pure codegen integer "
    "arithmetic), only survivors reach the exact verify join; output "
    "identical to text_decontaminate, filter verified bit-for-bit by the "
    "same-dialect-generated oracle; Spark side reads the per-session "
    "staged shingle relation",
)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    hxn, (bench_rel, bloom_rel) = stage(spark, "hx_shingles", "bloom_filter")
    return spark.sql(
        textstats.decontaminate_bloom_sql(
            "spark", sh_rel=hxn, bench_rel=bench_rel, bloom_rel=bloom_rel
        )
    )


@query(
    "events_funnel",
    events_ops.FUNNEL_ORACLE,
    doc="ordered funnel (view -> click -> purchase) per user: conditional "
    "first-touch MIN per stage — one shuffle, no self-joins, no Python; "
    "ordered-stage flags from NULL-safe timestamp comparisons",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ops.funnel(spark)


_sql_pair(
    "events_histogram",
    events_ops.histogram_sql,
    doc="fixed-width value histogram per event type: single-pass group-by "
    "on (type, floor(value/width)) — the profiling op for clip bounds",
)

_sql_pair(
    "events_winsorize",
    events_ops.winsorize_sql,
    doc="percentile winsorization (clip to [p01, p99] per type): tiny "
    "percentile relation broadcast, fact scans once; quantiles rounded "
    "6dp and clipped sums in floor-cents for cross-engine determinism",
)
