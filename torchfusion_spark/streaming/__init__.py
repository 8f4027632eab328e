"""Structured Streaming operators over the events table.

The reference exposes no streaming (SURVEY §2-C: none in DataFusion use);
this is the driver-mandated extension path. Batch parity note: each
streaming op here has the same semantics as a batch query, which is what
the oracle checks when one is registered.

Local tests drive these with the parquet file-source + memory sink and
``processAllAvailable`` (guide: Structured Streaming section); in
production the source swaps to Kafka/files-on-arrival with the same plan.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from torchfusion_spark.staging import declare, stage


@contextmanager
def _scaled_state_partitions(spark: SparkSession, python_state: bool = False):
    """Override ``spark.sql.shuffle.partitions`` (= streaming state-store
    partition count, captured at query start) around a stream's start.

    State partitioning should track key cardinality and executor count,
    not the batch shuffle default: a local bounded replay with 32 state
    stores per micro-batch spends 3× longer on store setup than on data
    (measured 4.4s → 1.5s at sf0.01). Production streams set
    ``torchfusion.stream.statePartitions``; unset, local runs use
    min(8, default_parallelism()).

    ``python_state`` (r17): the ``applyInPandasWithState`` operators are
    bound by the per-group Python work, which parallelizes with the
    partition count, while the JVM-stateful operators are bound by
    per-partition store setup, which does NOT — an interleaved paired
    A/B at sf0.1 measured 8 vs 16 partitions as session_timeout
    5.54 → 4.59 s and user_stats 1.65 → 1.49 s (Python state, 16 wins)
    but stream_stream_join 2.87 → 4.89 s and the eviction/dedup
    witnesses +0.3–2.0 s (JVM state, 8 wins). So the Python-state path
    defaults to min(16, parallelism), overridable via
    ``torchfusion.stream.pyStatePartitions``; the explicit
    ``torchfusion.stream.statePartitions`` still overrides both."""
    from torchfusion_spark.session import default_parallelism, overriding

    default = min(16 if python_state else 8, default_parallelism())
    n = spark.conf.get("torchfusion.stream.statePartitions", None)
    if n is None and python_state:
        n = spark.conf.get("torchfusion.stream.pyStatePartitions", None)
    with overriding(spark, {"spark.sql.shuffle.partitions": n if n is not None else str(default)}):
        yield


def _record_state_metrics(spark: SparkSession, name: str, q) -> None:
    """Persist the finished query's state-store footprint into a
    session-scoped dict for the bench report — round-over-round state
    GROWTH is the 100 TB streaming health signal (an unbounded keyspace
    shows up here long before an executor OOMs), so BENCH_r{N} carries
    it next to rows/sec (VERDICT r7 item 5).

    Two snapshots (VERDICT r8 item 3): ``state_rows``/``state_bytes``
    come from the LAST progress carrying stateOperators — for an
    availableNow replay that is post-final-watermark, i.e. largely
    POST-EVICTION (stream_stream_join reported 99 rows against 24.6 MB
    of store overhead, under-describing the run). ``peak_state_rows``/
    ``peak_state_bytes`` are the MAX over every progress — the number an
    executor must actually hold, and the one capacity planning reads."""
    try:
        progresses = [p.get("stateOperators") or [] for p in (q.recentProgress or [])]
        ops = []
        for prog_ops in reversed(progresses):
            if prog_ops:
                ops = prog_ops
                break
        rows_per = [sum(int(o.get("numRowsTotal", 0)) for o in p) for p in progresses if p]
        bytes_per = [sum(int(o.get("memoryUsedBytes", 0)) for o in p) for p in progresses if p]
        spark.__dict__.setdefault("_tf_stream_state", {})[name] = {
            "state_rows": sum(int(o.get("numRowsTotal", 0)) for o in ops),
            "state_bytes": sum(int(o.get("memoryUsedBytes", 0)) for o in ops),
            "peak_state_rows": max(rows_per, default=0),
            "peak_state_bytes": max(bytes_per, default=0),
            "state_operators": len(ops),
        }
    except Exception:  # noqa: BLE001 — metrics are best-effort, never fail the query
        pass


def _run_to_memory(
    spark: SparkSession, df: DataFrame, name: str, mode: str, python_state: bool = False
) -> DataFrame:
    """Run a bounded availableNow stream into a named memory sink.
    ``python_state`` selects the applyInPandasWithState partition
    default (see ``_scaled_state_partitions``). The stream runs on a
    clone of the session taken at ``start()``, so the override is held
    around ``start()`` only."""
    with _scaled_state_partitions(spark, python_state):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    _record_state_metrics(spark, name, q)
    return spark.table(name)


EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, normalized to a proper
    TIMESTAMP ``ts`` for both testdata vintages (see ``sources.read_table``):
    the footer is sniffed once on the driver — INT64 TIMESTAMP(NANOS) data
    streams as bigint and is rebuilt to µs; µs data streams as TIMESTAMP
    directly (NTZ inference off, UTC session tz: confs ``configure``
    applies once, so a later user ``SET`` wins). Streams require an
    explicit schema, so the round-2 failure mode (hardcoded nanos schema
    dividing µs values by 1000 → ~1970 windows) is now impossible without
    tripping the canary test."""
    import pyarrow.parquet as pq

    from torchfusion_spark.session import configure
    from torchfusion_spark.sources import nanos_to_timestamp

    configure(spark)
    ts_type = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
    if ts_type in ("timestamp[ns]", "int64"):
        raw_schema = (
            "event_id bigint, ts bigint, user_id bigint, event_type string, "
            "value double, props string"
        )
        return (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")  # file source wants a dir
            .parquet(sf_dir)
            .withColumn("ts", nanos_to_timestamp("ts"))
        )
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_counts(spark: SparkSession, sf_dir: str, window: str = "10 minutes") -> DataFrame:
    """Tumbling-window counts per event_type with a watermark — the
    canonical streaming aggregation. Run to completion over the bounded
    source and return the final result as a batch DataFrame."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    name = "tf_stream_windowed_counts"
    return _run_to_memory(spark, agg, name, "complete").orderBy("window_start", "event_type")


def sliding_counts(
    spark: SparkSession, sf_dir: str, window: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding-window counts (each event lands in window/slide = 2
    overlapping windows) — the hopping-window streaming aggregation."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    name = "tf_stream_sliding_counts"
    return _run_to_memory(spark, agg, name, "complete").orderBy("window_start", "event_type")


def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (n_events, total_value) maintained in explicit state — the
    template for operators Spark's built-in aggs can't express (counters
    with custom merge/expiry logic).

    The monetary accumulator is held in state as exact integer hundredths
    (``value`` is a 2-decimal quantity) and only projected back to a double
    at emission. Accumulating the float directly would make the total
    depend on micro-batch visit order — non-reproducible across task
    retries on a real cluster and un-hashable against a SQL oracle; the
    fixed-point state is the same discipline the ``events_anomaly_zscore``
    DECIMAL moments use, and is why this query is fully hash-checked."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np

        n, hundredths = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # half-away-from-zero, matching SQL ROUND in the oracle —
            # pandas .round() is banker's (half-to-even) and would diverge
            # on an exact .5 hundredth. NULL values must be dropped first:
            # the oracle's SUM skips them, while a NaN would poison np.sum
            # and .astype('int64') silently turns that NaN into INT64_MIN
            v = pdf["value"].dropna().to_numpy() * 100
            hundredths += int(np.sum(np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64"))
        state.update((n, hundredths))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [hundredths / 100.0]}
        )

    out = (
        _event_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, hundredths bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # sink name = tf_ + the registry witness name, so the bench state
    # report's key-derivation (strip tf_) joins cleanly against
    # streaming.queries (code-review r08)
    name = "tf_stream_stateful_user_stats"
    latest = _run_to_memory(spark, out, name, "update", python_state=True)
    return _latest_per_user(latest)


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup on event_id within the watermark
    (dropDuplicatesWithinWatermark) — the streaming arm of the dedup
    family."""
    stream = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "tf_stream_dedup_counts"
    return _run_to_memory(spark, stream, name, "complete").orderBy("event_type")


def enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (the canonical streaming-enrichment shape — the
    static side is re-read per micro-batch and broadcast by Catalyst),
    then aggregated per (segment, event_type)."""
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        _event_stream(spark, sf_dir)
        .join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "tf_stream_static_join"  # tf_ + registry witness name (see stateful_user_stats)
    return _run_to_memory(spark, agg, name, "complete").orderBy("c_mktsegment", "event_type")


def stateful_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats in explicit typed state, accumulated as
    integer cents so the final per-user state is bit-deterministic and the
    DuckDB oracle hash-checks it fully (the float-summing
    ``stateful_user_stats`` variant is rows-only for exactly that reason).
    State is one ``(n, cents)`` struct per user in
    ``applyInPandasWithState``; each micro-batch emits the updated totals
    of the users it touched."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})

    out = (
        _event_stream(spark, sf_dir)
        .withColumn("cents", F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_cents bigint",
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    latest = _run_to_memory(spark, out, "tf_stream_stateful_cents", "update", python_state=True)
    return _latest_per_user(latest)


def _latest_per_user(latest: DataFrame) -> DataFrame:
    """Update-mode memory sinks hold one emission per micro-batch per key;
    the final state is the max-n_events row."""
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("user_id").orderBy(F.col("n_events").desc()))
    return latest.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn").orderBy("user_id")


STATEFUL_CENTS_ORACLE = """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """

# the user-stats twin holds the same exact integer-hundredths state but
# projects it back to a double at emission; the single final division is
# order-independent, so the double column hash-matches the oracle
STATEFUL_USER_STATS_ORACLE = """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """


def session_window_counts(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via the native ``session_window`` — the
    dynamic-gap window merging Structured Streaming maintains in state
    (late rows within the watermark extend/merge sessions). Same operator
    as the batch `events_session_window` witness, now driven through the
    streaming engine; at scale state is keyed by (user_id, session) and
    expired past the watermark.

    Run with availableNow over the bounded source; emits one row per
    (user, session) with start/end/count, identical to the batch
    gaps-and-islands oracle."""
    agg = session_window_stream(_event_stream(spark, sf_dir), gap)
    name = "tf_stream_session_window"
    return _run_to_memory(spark, agg, name, "complete").orderBy("user_id", "session_start")


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The ``stream_session_window`` aggregation over a caller-provided
    (user_id, ts) stream — shared by the registry operator and the r15
    model fuzzer, so the fuzzed plan IS the registered plan.

    Probed complete-mode semantics the r15 model fuzzer encodes:
    complete output retains ALL aggregation state (no eviction), but the
    LATE FILTER still applies — a row in batch b is dropped iff its
    provisional window end (ts + gap) <= the two-behind watermark (the
    global wm computed from batches <= b-2; the windowed-agg drop rule,
    boundary inclusive). Kept rows merge into state under
    session_window's INCLUSIVE-boundary rule: windows merge iff next
    start <= current end, so a gap of exactly ``gap`` still MERGES —
    the committed oracle's ``>=`` split rule disagreed exactly there
    and the fixture grid never exercised it (fixed r15)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on BOTH sides — the
    hardest Structured Streaming join shape (each side buffers state
    until the other side's watermark passes the time-bound). Purchases
    joined to the same user's clicks within the preceding 30 minutes;
    the time-range condition is what lets the engine expire state.

    BANDED equi-key (r8): the state key is (user, 30-minute time band),
    not the bare user — the click side explodes into its own band and
    the next (a purchase's 30-minute lookback spans at most those two),
    so the exact range predicate sees only candidates from the matching
    band. With the bare-user key, a Zipfian hot user turns the in-state
    candidate evaluation quadratic: the skewed-sf1 rehearsal's hot user
    holds ~10k clicks × ~10k purchases = 100M pairs inside ONE state
    key, measured 31.7s for a 76k-row result. Banding splits that key
    across the stream's whole time range — identical output (a pair
    joins under exactly one band value, the purchase's own), measured
    31.7s → ~3s on the same corpus. This is ``events_range_join``'s
    banding discipline applied to streaming state.

    Run availableNow over the bounded source; oracle = the batch
    inequality join. At scale both sides shuffle once on (user, band)
    and state is bounded by the 30-minute window + watermark."""
    clicks = _event_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = _event_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    j = banded_stream_join(clicks, purchases)
    name = "tf_stream_stream_join"
    return _run_to_memory(spark, j, name, "append").orderBy("purchase_id", "click_id")


def banded_stream_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """The ``stream_stream_join`` pipeline over caller-provided streaming
    sides, each shaped (user_id, ts, event_id) — shared by the registry
    operator (event-stream sides) and the r15 model fuzzer (arbitrary
    parquet batch sequences), so the fuzzed plan IS the registered plan.

    Probed join semantics the model fuzzer encodes (r15, this harness):
    each side's watermark derives only from ITS OWN rows (max event ts
    minus the 60-min delay; a side that has seen no rows contributes no
    watermark and the global wm stays unset — multipleWatermarkPolicy
    'min'); the late filter in batch b uses the global wm computed from
    batches <= b-2 (the built-ins' two-behind split, one staler than
    ``applyInPandasWithState``'s visible wm) and drops rows with
    ts <= wm; click-side state is evicted before matching when
    click_ts <= wm - 30min (boundary probed exact: click at wm-30
    evicted, wm-29 alive); a purchase's eviction boundary is
    unobservable through the inner join (any future click it could
    match implies purchase_ts > wm)."""
    band = "CAST(FLOOR(unix_timestamp({c}) / 1800) AS BIGINT)"
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withColumn(
            "c_band",
            F.explode(
                F.array(
                    F.expr(band.format(c="click_ts")),
                    F.expr(band.format(c="click_ts") + " + 1"),
                )
            ),
        )
        .withWatermark("click_ts", "60 minutes")
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withColumn("p_band", F.expr(band.format(c="purchase_ts")))
        .withWatermark("purchase_ts", "60 minutes")
    )
    return p.join(
        c,
        F.expr(
            "p_user = c_user AND p_band = c_band AND click_ts <= purchase_ts "
            "AND click_ts >= purchase_ts - INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


def exactly_once_sink(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Idempotent foreachBatch parquet sink — the exactly-once delivery
    pattern for streaming ETL: each micro-batch overwrites its OWN
    partition directory (``batch=<id>``), so a replayed batch (failure →
    restart from checkpoint before commit) rewrites the same directory
    instead of appending duplicates. Dynamic partition overwrite keeps
    other batches' output untouched.

    The query runs on a REAL checkpoint (``checkpoint_dir``, defaulting
    to ``<out_dir>_ckpt_<hash(sf_dir)>`` — source-keyed so reusing one
    out_dir against a different source recomputes instead of resuming
    from the foreign checkpoint's offsets, ADVICE r06): that is where
    the offset → batchId mapping
    lives, so a restart resumes from the committed offsets instead of
    replaying from batch 0 — without it the recipe's recovery guarantee
    is words, not behavior. A rerun over the same bounded source is
    therefore a zero-batch no-op.

    Because the aggregation runs in complete mode, every batch directory
    holds the FULL snapshot as of that batch; the canonical result is the
    NEWEST batch only (unioning directories would multiply counts), and
    older snapshots remain on disk as the idempotent-rewrite targets.
    Returns that newest snapshot — schema-stable and empty on a zero-data
    source, the first-deploy state of every streaming job."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # ROUND, not CAST-truncation: 0.29*100 is 28.999… in float64,
            # and the module's fixed-point discipline is half-away cents
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("cents"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "cents")
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch 0 = a run starting from scratch (fresh checkpoint): purge
        # the whole out_dir with a STATIC overwrite so snapshots left by a
        # prior run against a different source can't outlive this one and
        # win the newest-batch selection below. Replaying batch 0 after a
        # pre-commit failure repeats the purge — idempotent. Later batches
        # keep the dynamic per-partition overwrite.
        writer = batch_df.withColumn("batch", F.lit(batch_id)).write.mode(
            "overwrite"
        ).partitionBy("batch")
        if batch_id != 0:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(out_dir)

    if checkpoint_dir is None:
        # key the DEFAULT checkpoint on the source too (ADVICE r06):
        # <out_dir>_ckpt alone means reusing one out_dir against a
        # different sf_dir resumes from the FOREIGN checkpoint's committed
        # offsets — a zero-batch no-op returning the stale snapshot
        # instead of recomputing the new source
        src_key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
        checkpoint_dir = f"{out_dir.rstrip('/')}_ckpt_{src_key}"

    with _scaled_state_partitions(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(write_batch)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    try:
        snap = spark.read.parquet(out_dir)
    except AnalysisException:  # zero batches ran: nothing written, not even a schema
        return spark.createDataFrame(
            [], "window_start timestamp, event_type string, n bigint, cents bigint, batch int"
        )
    # 1-value driver fetch (like the CC convergence signature): selects
    # the newest snapshot partition, never materializes data on the driver
    newest = snap.agg(F.max("batch")).collect()[0][0]
    return snap.filter(F.col("batch") == newest)


# ---------------------------------------------------------------------------
# Late-data / watermark-eviction witness (VERDICT r12 item 4): the 8 prior
# streaming witnesses are batch-parity-oracled on the happy path — none
# certifies WHICH rows a watermark drops vs emits. This one feeds
# deliberately backdated batches through a windowed aggregation in append
# mode and pins Spark's split-watermark semantics (SPARK-40925, probed on
# this engine version):
#   * late-record filter in batch N uses the PREVIOUS batch's watermark
#     (max event time over batches < N-1, minus delay) and drops a row iff
#     its window END <= that watermark (boundary: == drops);
#   * eviction/emission at the end of batch N uses the CURRENT watermark
#     (max over batches < N, minus delay) and emits a window iff its END
#     <= that watermark (boundary: == emits);
#   * availableNow runs a final no-data micro-batch whose watermark is
#     max(all event time) - delay, finalizing the remaining windows.
# The DuckDB oracle reproduces all three rules in exact integer epoch-µs
# arithmetic — this is the eviction contract a 100 TB streaming ingest
# actually depends on.
# ---------------------------------------------------------------------------

LATE_DELAY_MIN = 30
LATE_WINDOW_MIN = 10
LATE_SHIFTS_MIN = (0, 45, 90)  # per-batch backdating (minutes)
LATE_DUP_X_MIN = 5  # dedup variant: batch-1 dup offset (state always live)
LATE_DUP_Y_MIN = 600  # dedup variant: batch-2 dup offset (>> delay: 3-way split)
SESSION_GAP_MIN = 360  # session variant: inactivity gap (fixture median
# per-user spacing ~440 min, quartile ~180 — the gap sits between, so the
# replay exercises both merges and splits)
SESSION_DELAY_MIN = 30  # session variant: watermark delay
SESSION_STRAG_MOD = 8  # 1-in-8 events arrive one batch late (stragglers)


def _late_variant_frames(spark, sf_dir: str, variant: str):
    """Per-batch DataFrames for a late-arrival replay variant. ``agg``:
    organic rows only, (ts, event_type) — the windowed-agg witness.
    ``dedup``: (event_id, ts, event_type) with two injected duplicate
    families re-emitting batch-0 keys — X (batch 1, ts+5min: the state
    is still live, every one must be dropped as a duplicate) and Y
    (batch 2, ts+10h — far past the 30-min delay, so the orig-age
    spectrum splits three ways with a wide re-accept band: late-dropped
    (origs older than 10.5h before batch-0's max) / dup-dropped (origs
    within 60min of it — live iff orig + delay > max0 - delay, i.e. 2x
    the delay — plus every X dup) / EVICTED-then-re-accepted (the ~9.5h
    band between). Any offset <= the delay could never
    re-accept: a dup whose orig expired within the delay is itself
    always late — that inequality IS dropDuplicatesWithinWatermark's
    guarantee)."""
    from torchfusion_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())

    def org(b, shift, cols):
        return ev.where(F.col("event_id") % 3 == b).select(
            *cols, (F.col("ts") - F.expr(f"INTERVAL {shift} MINUTES")).alias("ts"), "event_type"
        )

    if variant == "agg":
        return [org(b, shift, []) for b, shift in enumerate(LATE_SHIFTS_MIN)]
    if variant == "session":
        # time-ordered ingest with stragglers: batch b = the b-th tercile
        # of the event-time range, except STRAGGLERS (1-in-8 by portable
        # event_id hash) which arrive one batch LATE with their original
        # timestamp — the realistic replay for a sessionizing state
        # machine (in-order bulk + a late tail the watermark may reject).
        # Batch assignment is exact BIGINT µs arithmetic the oracle
        # re-derives verbatim from the raw events table.
        lined = ev.selectExpr(
            "user_id",
            "ts",
            # COALESCE at derivation: the replay contract delivers
            # non-NULL cents (a NULL event value counts as 0), so the
            # processor never meets the Arrow nullable-int64→float64 NaN
            # (code-review r14) and the oracle's SUM needs no NULL-vs-0
            # split on all-NULL sessions
            "COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0) AS cents",
            "unix_micros(ts) AS e",
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 14), 16, 10) AS BIGINT)"
            f" % {SESSION_STRAG_MOD} AS strag",
        ).crossJoin(
            ev.selectExpr("MIN(unix_micros(ts)) AS mn", "MAX(unix_micros(ts)) AS mx")
        ).selectExpr(
            "user_id",
            "ts",
            "cents",
            "LEAST(LEAST((e - mn) * 3 DIV (mx - mn + 1), 2)"
            " + IF(strag = 0, 1, 0), 2) AS b",
        )
        return [
            lined.where(F.col("b") == b).select("user_id", "ts", "cents")
            for b in range(3)
        ]
    assert variant == "dedup", variant

    def dup(residue, plus_min):
        return ev.where(F.col("event_id") % 30 == residue).select(
            "event_id",
            (F.col("ts") + F.expr(f"INTERVAL {plus_min} MINUTES")).alias("ts"),
            "event_type",
        )

    ecol = ["event_id"]
    return [
        org(0, LATE_SHIFTS_MIN[0], ecol),
        org(1, LATE_SHIFTS_MIN[1], ecol).union(dup(0, LATE_DUP_X_MIN)),
        org(2, LATE_SHIFTS_MIN[2], ecol).union(dup(15, LATE_DUP_Y_MIN)),
    ]


def _events_identity(spark, sf_dir: str, **_):
    path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    st = os.stat(path)
    return path, st.st_mtime_ns, st.st_size


@declare("late_batches", key=_events_identity, params={"sf_dir": None, "variant": "agg"})
def _late_batches(ctx, sf_dir: str, variant: str) -> str:
    """The 3-file late-arrival corpus of a replay ``variant``, in this
    build's staging dir: batch b = events with ``event_id % 3 == b``,
    timestamps backdated by ``LATE_SHIFTS_MIN[b]`` minutes, file mtimes
    strictly increasing so the file source's (mtime, path) ordering
    replays batches deterministically. Keyed on the events parquet
    itself (path, mtime, size), read from ``sf_dir`` directly: the
    session's ``events`` view may point at another corpus."""
    import shutil

    d = ctx.dir(f"late_stream_{variant}")
    for b, frame in enumerate(_late_variant_frames(ctx.spark, sf_dir, variant)):
        part_dir = os.path.join(d, f"_build{b}")
        frame.coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = next(
            f for f in os.listdir(part_dir) if f.startswith("part-") and f.endswith(".parquet")
        )
        os.replace(os.path.join(part_dir, part), os.path.join(d, f"b{b}.parquet"))
        shutil.rmtree(part_dir)
        os.utime(os.path.join(d, f"b{b}.parquet"), (1_000_000_000 + b, 1_000_000_000 + b))
    return d


def late_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling-window counts over the 3-batch late-arrival
    replay (``maxFilesPerTrigger=1`` → one batch per file): the result
    contains exactly the windows the eviction watermark finalized, with
    counts excluding exactly the rows the late-record filter dropped —
    both pinned by the integer-exact oracle."""
    d = stage(spark, "late_batches", sf_dir=sf_dir)
    src = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = (
        src.withWatermark("ts", f"{LATE_DELAY_MIN} minutes")
        .groupBy(F.window("ts", f"{LATE_WINDOW_MIN} minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    name = "tf_stream_late_eviction"
    return _run_to_memory(spark, agg, name, "append").orderBy("window_start", "event_type")


def late_eviction_oracle_sql() -> str:
    """DuckDB recompute of the split-watermark semantics in epoch-µs
    BIGINT arithmetic (exact; boundary rules as probed: drop iff
    window_end <= late wm, emit iff window_end <= eviction wm)."""
    w_us = LATE_WINDOW_MIN * 60_000_000
    d_us = LATE_DELAY_MIN * 60_000_000
    shifts = " ".join(
        f"WHEN {b} THEN {s * 60_000_000}" for b, s in enumerate(LATE_SHIFTS_MIN)
    )
    return f"""
    WITH src AS (
        SELECT CAST(event_id % 3 AS INT) AS b,
               epoch_us(ts) - (CASE CAST(event_id % 3 AS INT) {shifts} END) AS e,
               event_type
        FROM events WHERE ts IS NOT NULL),
    m AS (SELECT b, MAX(e) AS mx FROM src GROUP BY b),
    lw AS (
        SELECT s.b,
               (SELECT MAX(m.mx) FROM m WHERE m.b < s.b - 1) - {d_us} AS late_wm
        FROM (SELECT DISTINCT b FROM src) s),
    kept AS (
        SELECT src.e, src.event_type, (src.e // {w_us}) * {w_us} AS ws
        FROM src JOIN lw ON src.b = lw.b
        WHERE lw.late_wm IS NULL
           OR (src.e // {w_us}) * {w_us} + {w_us} > lw.late_wm),
    fw AS (SELECT MAX(e) - {d_us} AS final_wm FROM src)
    SELECT make_timestamp(ws) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM kept, fw
    WHERE ws + {w_us} <= fw.final_wm
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """


def late_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` under late arrivals — the
    eviction-semantics witness for streaming DEDUP state (the agg twin
    is :func:`late_eviction`). The 3-batch replay injects two duplicate
    families against batch-0 keys; the probed model the oracle
    reproduces exactly (split watermark again, and two dedup-specific
    rules):
      * late filter in batch N drops rows with ``ts <= W``, W = the
        watermark in effect during batch N-1 (boundary: == drops);
      * a duplicate key is dropped iff its first occurrence's state is
        live — ``orig_ts + delay > W`` (same W; eviction at the end of
        batch N-1 uses that batch's watermark, boundary: == evicts), and
        duplicates do NOT refresh state expiry;
      * dropped duplicates STILL advance the watermark (max is over all
        input rows), and an accepted re-occurrence is emitted as a
        fresh row — re-emission is only possible when the occurrences
        are more than the delay apart."""
    d = stage(spark, "late_batches", sf_dir=sf_dir, variant="dedup")
    src = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = (
        src.withWatermark("ts", f"{LATE_DELAY_MIN} minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "event_type")
    )
    name = "tf_stream_late_dedup"
    return _run_to_memory(spark, out, name, "append").orderBy("event_id", "ts")


def late_dedup_oracle_sql() -> str:
    """DuckDB recompute of the probed dropDuplicatesWithinWatermark
    model in exact epoch-µs BIGINT arithmetic. ``prev_wm(b)`` =
    max event time over batches <= b-2 minus delay — simultaneously the
    late-filter bound for batch b AND the strongest eviction any
    batch-0 state faced before batch b (both are 'the watermark in
    effect during batch b-1')."""
    d_us = LATE_DELAY_MIN * 60_000_000
    s1 = LATE_SHIFTS_MIN[1] * 60_000_000
    s2 = LATE_SHIFTS_MIN[2] * 60_000_000
    return f"""
    WITH src AS (
        SELECT CAST(event_id % 3 AS INT) AS b, event_id AS k,
               epoch_us(ts) - (CASE CAST(event_id % 3 AS INT)
                               WHEN 1 THEN {s1} WHEN 2 THEN {s2}
                               ELSE 0 END) AS e,
               event_type, 0 AS is_dup, CAST(NULL AS BIGINT) AS e0
        FROM events WHERE ts IS NOT NULL
        UNION ALL
        SELECT 1, event_id, epoch_us(ts) + {LATE_DUP_X_MIN * 60_000_000}, event_type,
               1, epoch_us(ts)
        FROM events WHERE ts IS NOT NULL AND event_id % 30 = 0
        UNION ALL
        SELECT 2, event_id, epoch_us(ts) + {LATE_DUP_Y_MIN * 60_000_000}, event_type,
               1, epoch_us(ts)
        FROM events WHERE ts IS NOT NULL AND event_id % 30 = 15),
    m AS (SELECT b, MAX(e) AS mx FROM src GROUP BY b),
    pw AS (
        SELECT s.b,
               (SELECT MAX(m.mx) FROM m WHERE m.b <= s.b - 2) - {d_us} AS prev_wm
        FROM (SELECT DISTINCT b FROM src) s)
    SELECT k AS event_id, make_timestamp(e) AS ts, event_type
    FROM src JOIN pw ON src.b = pw.b
    WHERE (pw.prev_wm IS NULL OR src.e > pw.prev_wm)
      AND (src.is_dup = 0
           OR (pw.prev_wm IS NOT NULL AND src.e0 + {d_us} <= pw.prev_wm))
    ORDER BY event_id, ts
    """


# ---------------------------------------------------------------------------
# Event-time TIMER witness (VERDICT r13 item 5): the session-timeout state
# machine — per-user open sessions held in explicit state, closed and
# EMITTED when the event-time watermark passes session_end + gap. This is
# the idiom a 100 TB sessionization pipeline runs on registered timers.
# Probed semantics this witness pins (tests/test_streaming.py fuzzer):
#   * applyInPandasWithState does NOT pre-filter late rows — the operator
#     owns its late rule (probe: ts < wm AND ts == wm both reached
#     update());
#   * the watermark visible in batch N (getCurrentWatermarkMs) is
#     max event-ms over batches < N minus the delay — one batch fresher
#     than the built-in operators' late-filter watermark;
#   * event-time timers fire STRICTLY (timer < wm fires; == does not);
#   * the watermark advances on ALL input rows (the wm node sees rows
#     before the operator drops them), and availableNow ends with a
#     final no-data batch at max(ts)-delay that fires remaining timers.
# The operator's own rules (mirrored exactly by the oracle): accept iff
# ts > wm (== drops), sessions merge on gaps <= gap, a session closes
# and emits iff session_end + gap < wm (strict — matching the probed
# strict timer so the registered timer at (end+gap) ms fires exactly
# when emission is due). The Spark-side watermark is milliseconds, so
# the oracle floors max-event µs to ms before subtracting the delay.
# ---------------------------------------------------------------------------


def stateful_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-timeout sessionization over the 3-batch tercile replay
    (in-order bulk + 1-in-8 stragglers one batch late): per-user open
    sessions in explicit group state (parallel-array struct), an
    event-time timeout registered at min(session_end)+gap, closed
    sessions emitted with exact integer (epoch-µs bounds, count, cent
    total). The timer is ``applyInPandasWithState``'s
    ``GroupStateTimeout.EventTimeTimeout``, the same stateful API as
    :func:`stateful_cents`."""
    d = stage(spark, "late_batches", sf_dir=sf_dir, variant="session")
    return _run_session_timeout(spark, d)


def _run_session_timeout(
    spark: SparkSession,
    batches_dir: str,
    gap_min: int = SESSION_GAP_MIN,
    delay_min: int = SESSION_DELAY_MIN,
) -> DataFrame:
    """The session-timeout pipeline over an arbitrary replayed batch dir —
    factored from :func:`stateful_session_timeout` so the randomized model
    fuzzer drives the REAL operator on its own corpora."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_min * 60_000_000
    src = (
        spark.readStream.schema("user_id bigint, ts timestamp, cents bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(batches_dir)
    )

    def update(key, pdfs, state: GroupState):
        wm_us = max(state.getCurrentWatermarkMs(), 0) * 1000
        sess = []
        if state.exists:
            st = state.get
            sess = [list(t) for t in zip(st[0], st[1], st[2], st[3])]
        for pdf in pdfs:  # empty on a timeout invocation
            for ts, c in zip(pdf["ts"], pdf["cents"]):
                e = int(ts.value) // 1000  # pandas ns → epoch µs
                if e > wm_us:  # the operator's own late rule: == drops
                    # the replay contract coalesces cents at derivation;
                    # a NaN (Arrow nullable int64 → float64) from a
                    # foreign source still counts the event, as 0 cents
                    sess.append([e, e, 1, 0 if c != c else int(c)])
        sess.sort(key=lambda s: (s[0], s[1]))
        merged: list = []
        for s in sess:
            if merged and s[0] <= merged[-1][1] + gap_us:
                m = merged[-1]
                m[1] = max(m[1], s[1])
                m[2] += s[2]
                m[3] += s[3]
            else:
                merged.append(s)
        done = [s for s in merged if s[1] + gap_us < wm_us]  # strict: == stays
        live = [s for s in merged if s[1] + gap_us >= wm_us]
        if live:
            state.update((
                [s[0] for s in live],
                [s[1] for s in live],
                [s[2] for s in live],
                [s[3] for s in live],
            ))
            # ms-floored timer fires (strictly) exactly when the strict
            # µs emission rule first holds; >= wm by the live filter, so
            # setTimeoutTimestamp's not-behind-watermark check passes
            state.setTimeoutTimestamp(min(s[1] + gap_us for s in live) // 1000)
        elif state.exists:
            state.remove()
        if done:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(done),
                    "session_start": [s[0] for s in done],
                    "session_end": [s[1] for s in done],
                    "n_events": [s[2] for s in done],
                    "total_cents": [s[3] for s in done],
                }
            )

    out = src.withWatermark("ts", f"{delay_min} minutes").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, session_start bigint, session_end bigint, "
            "n_events bigint, total_cents bigint"
        ),
        stateStructType=(
            "starts array<bigint>, lasts array<bigint>, "
            "ns array<bigint>, cents array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = "tf_stream_session_timeout"
    # every emitted row is a closed session, emitted exactly once — the
    # update-mode memory sink content IS the answer (no latest-per-key)
    return _run_to_memory(spark, out, name, "update", python_state=True).orderBy(
        "user_id", "session_start"
    )


def session_timeout_oracle_sql() -> str:
    """DuckDB recompute of the session-timeout machine in exact BIGINT
    arithmetic: re-derive the tercile/straggler batch assignment from
    the raw events table, apply the per-batch late rule against the
    ms-floored watermark of the PRIOR batches, sessionize survivors by
    gaps-and-islands (arrival order is irrelevant to the final session
    partition — an emitted session can never absorb a later-accepted
    row, because acceptance requires ts > wm > closed end + gap), and
    emit exactly the sessions the final watermark strictly passed."""
    gap_us = SESSION_GAP_MIN * 60_000_000
    d_ms = SESSION_DELAY_MIN * 60_000
    return f"""
    WITH base AS (
        SELECT user_id, epoch_us(ts) AS e,
               COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0) AS cents,
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 14)) AS BIGINT)
                   % {SESSION_STRAG_MOD} AS strag
        FROM events WHERE ts IS NOT NULL),
    bounds AS (SELECT MIN(e) AS mn, MAX(e) AS mx FROM base),
    src AS (
        SELECT user_id, e, cents,
               LEAST(LEAST((e - mn) * 3 // (mx - mn + 1), 2)
                     + CASE WHEN strag = 0 THEN 1 ELSE 0 END, 2) AS b
        FROM base, bounds),
    m AS (SELECT b, MAX(e) AS mx FROM src GROUP BY b),
    wm AS (
        SELECT s.b,
               ((SELECT MAX(m.mx) // 1000 FROM m WHERE m.b < s.b) - {d_ms}) * 1000 AS wm_us
        FROM (SELECT DISTINCT b FROM src) s),
    acc AS (
        SELECT src.user_id, src.e, src.cents
        FROM src JOIN wm ON src.b = wm.b
        WHERE wm.wm_us IS NULL OR src.e > wm.wm_us),
    isl AS (
        SELECT user_id, e, cents,
               SUM(CASE WHEN prev IS NULL OR e - prev > {gap_us} THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY e
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM (SELECT user_id, e, cents,
                     LAG(e) OVER (PARTITION BY user_id ORDER BY e) AS prev
              FROM acc)),
    sess AS (
        SELECT user_id, sid, MIN(e) AS session_start, MAX(e) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM isl GROUP BY user_id, sid),
    fw AS (SELECT ((MAX(e) // 1000) - {d_ms}) * 1000 AS wm_us FROM src)
    SELECT user_id, session_start, session_end, n_events, total_cents
    FROM sess, fw
    WHERE sess.session_end + {gap_us} < fw.wm_us
    ORDER BY user_id, session_start
    """
