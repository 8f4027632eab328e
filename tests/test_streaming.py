"""Streaming operators: batch-parity for the windowed agg (covered in
test_extensions), streaming dedup, and the custom stateful operator."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_dedup_counts_match_batch(spark, tables):
    from torchfusion_spark import streaming

    got = {r.event_type: r.n for r in streaming.stream_dedup(spark, tables).collect()}
    want = {
        r.event_type: r.n
        for r in spark.table("events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stateful_user_stats_match_batch(spark, tables):
    from torchfusion_spark import streaming

    got = {r.user_id: (r.n_events, r.total_value) for r in
           streaming.stateful_user_stats(spark, tables).collect()}
    want = {
        r.user_id: (r.n, r.total)
        for r in spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")) / F.lit(100.0)
            ).alias("total"),
        )
        .collect()
    }
    # exact equality: the stateful operator keeps integer hundredths in
    # state, so the emitted double is order-independent
    assert got == want


def test_exactly_once_sink_source_switch_recomputes(spark, tables, tmp_path):
    """ADVICE r06: reusing ONE out_dir against a DIFFERENT source must
    recompute for the new source, not resume from the foreign
    checkpoint's committed offsets (a zero-batch no-op silently
    returning the stale snapshot). The default checkpoint is keyed on
    sf_dir, and a from-scratch batch 0 purges foreign snapshots."""
    import os

    import pyarrow.parquet as pq

    from torchfusion_spark import streaming

    out = str(tmp_path / "switch_sink")
    key = ["window_start", "event_type"]
    full = (
        streaming.exactly_once_sink(spark, tables, out)
        .drop("batch")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(full) > 0

    # second source: the first half of the events table
    half_dir = str(tmp_path / "half_src")
    os.makedirs(half_dir, exist_ok=True)
    tbl = pq.read_table(f"{tables}/events.parquet")
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), f"{half_dir}/events.parquet")

    got = (
        streaming.exactly_once_sink(spark, half_dir, out)
        .drop("batch")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert not got.equals(full), "foreign-checkpoint resume returned the stale snapshot"
    assert 0 < got["n"].sum() < full["n"].sum()
    # and the half-source run is itself resumable: rerun = no-op
    again = (
        streaming.exactly_once_sink(spark, half_dir, out)
        .drop("batch")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_exactly_once_sink_idempotent_rerun(spark, tables, tmp_path):
    """foreachBatch idempotent sink. First run processes the source and
    lands batch-keyed snapshots; the SECOND run resumes from the real
    checkpoint, sees no new offsets, runs ZERO batches, and leaves the
    sink byte-identical — genuine restart-resume, not a lucky same-split
    rewrite. A third run on a FRESH checkpoint replays from batch 0 and
    must overwrite to the same content (the idempotent-rewrite half).
    Content matches the batch aggregation with half-away cents."""
    from pyspark.sql import functions as F

    from torchfusion_spark import streaming

    sf_dir = tables  # the fixture's sf dir — must match spark.table("events")
    out = str(tmp_path / "stream_sink")
    first = streaming.exactly_once_sink(spark, sf_dir, out).drop("batch").toPandas()
    second = streaming.exactly_once_sink(spark, sf_dir, out).drop("batch").toPandas()

    key = ["window_start", "event_type"]
    a = first.sort_values(key).reset_index(drop=True)
    b = second.sort_values(key).reset_index(drop=True)
    assert a.equals(b), "checkpoint resume must be a zero-batch no-op"

    third = (
        streaming.exactly_once_sink(
            spark, sf_dir, out, checkpoint_dir=str(tmp_path / "fresh_ckpt")
        )
        .drop("batch")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert a.equals(third), "full replay must be a no-op rewrite, not an append"

    batch = (
        spark.table("events")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("cents"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "cents")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert a[["n", "cents"]].astype("int64").equals(batch[["n", "cents"]].astype("int64"))


def test_stateful_user_stats_skips_null_values(spark, tables, tmp_path):
    """A NULL value must be SKIPPED by the running total (as the oracle's
    SUM does), not ride through numpy as NaN and collapse the state to
    INT64_MIN; the row itself still counts toward n_events."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from torchfusion_spark import streaming

    deg = tmp_path / "null_events"
    deg.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000 + i for i in range(3)], pa.timestamp("us")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": pa.array(["click"] * 3),
            "value": pa.array([1.25, None, 0.29], pa.float64()),
            "props": pa.array(["{}"] * 3),
        }
    )
    pq.write_table(tbl, str(deg / "events.parquet"))
    rows = streaming.stateful_user_stats(spark, str(deg)).collect()
    assert len(rows) == 1
    assert rows[0].n_events == 3  # NULL row still counted
    assert rows[0].total_value == 1.54  # 125 + 29 hundredths; NULL skipped


def test_stream_dedup_oracle_data_contract(spark, tables):
    """Round-6 review: the stream_dedup_counts oracle (global DISTINCT
    event_id, event_type) equals dropDuplicatesWithinWatermark(['event_id'])
    only if duplicate event_ids are same-type and watermark-close. Pin
    that assumption on the shipped fixtures so a testdata regeneration
    that breaks it fails HERE with a named cause, not as an opaque
    driver-row hash mismatch."""
    from pyspark.sql import functions as F

    bad = (
        spark.table("events")
        .groupBy("event_id")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
        )
        .filter((F.col("n_types") > 1) | (F.col("span_us") > 3600 * 1_000_000))
        .count()
    )
    assert bad == 0, (
        "events fixture violates the stream-dedup oracle contract: "
        f"{bad} event_ids duplicated across types or >1h apart"
    )


def test_late_eviction_boundary_semantics(spark, tmp_path):
    """Pin Spark's split-watermark boundary rules with a hand-crafted
    3-batch corpus (the probe the oracle's model was derived from):

    batch0 max 11:00 → wm after = 10:30; batch1 max 11:05 → wm 10:35.
    * batch1's 10:05 (window end 10:10 <= CURRENT wm 10:30) is ACCEPTED —
      the late filter uses the PREVIOUS batch's watermark (epoch), not
      the current one (SPARK-40925 split).
    * batch2's 10:07 (end 10:10) and 10:29 (end 10:30 == late wm 10:30)
      are both DROPPED — drop iff window_end <= late watermark, boundary
      equality drops.
    * [10:20,10:30) end == eviction wm 10:30 → EMITTED (== emits) with
      n=1 (only batch0's 10:25 — 10:29 arrived after finalization).
    * final no-data batch wm = 11:40 - 30min = 11:10 finalizes
      [11:00,11:10) (end == wm) and retains 11:40's window.
    """
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "late_probe")
    os.makedirs(d)

    def write(ts_list, name, mt):
        t = pa.Table.from_pandas(
            pd.DataFrame({"ts": pd.to_datetime(ts_list), "event_type": ["a"] * len(ts_list)})
        )
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        pq.write_table(t, f"{d}/{name}")
        os.utime(f"{d}/{name}", (mt, mt))

    write(["2024-01-01 10:00:00", "2024-01-01 10:25:00", "2024-01-01 11:00:00"],
          "b0.parquet", 1_000_000_000)
    write(["2024-01-01 10:05:00", "2024-01-01 11:05:00"], "b1.parquet", 1_000_000_100)
    write(["2024-01-01 10:07:00", "2024-01-01 10:29:00", "2024-01-01 10:33:00",
           "2024-01-01 11:40:00"], "b2.parquet", 1_000_000_200)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = (
        src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("tf_late_boundary").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (str(r.ws), r.n) for r in spark.table("tf_late_boundary").collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", 2),  # 10:00 + late-but-accepted 10:05
        ("2024-01-01 10:20:00", 1),  # 10:25 only; 10:29 dropped at boundary
        ("2024-01-01 10:30:00", 1),  # 10:33 accepted (end 10:40 > late wm)
        ("2024-01-01 11:00:00", 2),  # finalized by the no-data batch at == wm
    }, got
    dropped = sum(
        o["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped == 2, dropped  # exactly 10:07 and 10:29


def test_late_dedup_boundary_semantics(spark, tmp_path):
    """Pin dropDuplicatesWithinWatermark's probed rules with hand-made
    batches: (a) a duplicate whose orig state is live is dropped and does
    NOT refresh expiry, yet its event time DOES advance the watermark;
    (b) late filter = previous batch's watermark; (c) once the orig's
    state is evicted (expiry <= that watermark), a re-occurrence is
    emitted as a fresh row — only possible when the occurrences are
    further apart than the delay."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "dedup_probe")
    os.makedirs(d)

    def write(rows, name, mt):
        df = pd.DataFrame(rows, columns=["k", "ts"])
        t = pa.Table.from_pandas(df)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        pq.write_table(t, f"{d}/{name}")
        os.utime(f"{d}/{name}", (mt, mt))

    T = lambda s: pd.Timestamp(f"2024-01-01 {s}:00")
    write([("A", T("10:00"))], "b0.parquet", 1_000_000_000)
    # dup while state live -> dropped; 13:00 still advances wm to 12:30
    write([("A", T("13:00"))], "b1.parquet", 1_000_000_100)
    # a batch in between so end-of-b2 eviction (wm 12:30) evicts A (10:30)
    write([("Y", T("13:05"))], "b2.parquet", 1_000_000_200)
    # late filter for b3 = wm during b2 = 12:30: 10:00 <= 12:30 -> late;
    # A's state is gone -> 13:30 re-occurrence EMITTED
    write([("B", T("10:00")), ("A", T("13:30"))], "b3.parquet", 1_000_000_300)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = src.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["k"])
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("tf_dedup_boundary").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r.k, str(r.ts)) for r in spark.table("tf_dedup_boundary").collect())
    assert got == [
        ("A", "2024-01-01 10:00:00"),
        ("A", "2024-01-01 13:30:00"),  # re-emitted after eviction
        ("Y", "2024-01-01 13:05:00"),
    ], got
    # exactly one late-filtered row (B), counted by the state operator
    dropped = sum(
        o["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped == 1, dropped


def test_late_dedup_exact_boundaries(spark, tmp_path):
    """Discriminating boundary pins for dropDuplicatesWithinWatermark
    (code-review r13: the first boundary test's values were far from
    every edge, so alternate models passed it too). With delay 30min,
    wm during b1 = 10:30 (= b2's late filter AND the end-of-b1 eviction
    bound), wm during b2 = 10:35:

    * L@10:30  -> late-DROPPED: ts == previous-batch wm drops (a strict-<
      filter would accept it);
    * P@10:31 and dup A@10:31 -> ACCEPTED: just above the previous-batch
      wm (a current-batch-wm filter at 10:35 would drop both);
    * dup A accepted because A's expiry 10:30 == eviction wm 10:30
      EVICTED it at the end of b1 (a strict-< eviction would keep A's
      state and dup-drop it);
    * dup K@10:32 DROPPED: K's expiry 10:35 > 10:30 survived that same
      eviction (an eviction using the CURRENT wm 10:35 would have
      evicted K too and re-accepted the dup)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "dedup_boundaries")
    os.makedirs(d)

    def write(rows, name, mt):
        df = pd.DataFrame(rows, columns=["k", "ts"])
        t = pa.Table.from_pandas(df)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        pq.write_table(t, f"{d}/{name}")
        os.utime(f"{d}/{name}", (mt, mt))

    T = lambda s: pd.Timestamp(f"2024-01-01 {s}:00")
    write([("A", T("10:00")), ("K", T("10:05")), ("M", T("11:00"))], "b0.parquet", 1_000_000_000)
    write([("N", T("11:05"))], "b1.parquet", 1_000_000_100)
    write([("A", T("10:31")), ("K", T("10:32")), ("L", T("10:30")), ("P", T("10:31"))],
          "b2.parquet", 1_000_000_200)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = src.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["k"])
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("tf_dedup_boundaries").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r.k, str(r.ts)) for r in spark.table("tf_dedup_boundaries").collect())
    assert got == [
        ("A", "2024-01-01 10:00:00"),
        ("A", "2024-01-01 10:31:00"),
        ("K", "2024-01-01 10:05:00"),
        ("M", "2024-01-01 11:00:00"),
        ("N", "2024-01-01 11:05:00"),
        ("P", "2024-01-01 10:31:00"),
    ], got
    dropped = sum(
        o["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for o in p.get("stateOperators", [])
    )
    assert dropped == 1, dropped  # exactly L — the == boundary drop


# ---------------------------------------------------------------------------
# Randomized watermark-model fuzzers: the registry witnesses pin the probed
# split-watermark semantics on ONE deterministic replay construction; these
# drive arbitrary small batch sequences (boundary-rich 5-minute ts grid,
# repeated keys across batches) through real availableNow streams and check
# them against a full Python state machine of the probed model — a model
# error that happens to cancel out on the registry construction cannot hide.
# ---------------------------------------------------------------------------

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.fuzz_budget import examples

_DELAY_MIN = 30


@st.composite
def stream_batches(draw):
    n_batches = draw(st.integers(2, 4))
    batches = []
    for b in range(n_batches):
        n = draw(st.integers(0, 6))
        rows, used = [], set()
        for _ in range(n):
            k = draw(st.sampled_from("ABCDEFGH"))
            if k in used:
                continue  # <=1 occurrence per key per batch: within-batch
                # dup survivor order is partition-dependent, not a model
            used.add(k)
            # 5-minute grid over 3 hours: boundary collisions are common
            rows.append((k, 5 * draw(st.integers(0, 36))))
        batches.append(rows)
    return batches


def _write_stream_batches(tmpdir, batches):
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01 08:00:00")
    for b, rows in enumerate(batches):
        df = pd.DataFrame(
            [(k, base + pd.Timedelta(minutes=m)) for k, m in rows], columns=["k", "ts"]
        )
        t = pa.Table.from_pandas(df)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        pq.write_table(t, f"{tmpdir}/b{b}.parquet")
        os.utime(f"{tmpdir}/b{b}.parquet", (1_000_000_000 + b, 1_000_000_000 + b))


def _wm_during(batches):
    """wm (minutes, None = unset) in effect DURING each batch b = max event
    time over batches < b, minus the delay — plus one more entry for the
    final no-data batch."""
    wms, mx = [], None
    for b in range(len(batches) + 1):
        wms.append(None if mx is None else mx - _DELAY_MIN)
        if b < len(batches) and batches[b]:
            m = max(m for _, m in batches[b])
            mx = m if mx is None else max(mx, m)
    return wms


def _dedup_model(batches):
    """The probed dropDuplicatesWithinWatermark state machine: late filter
    of batch b = wm during b-1 (ts <= wm drops); state live iff expiry
    (accept ts + delay) > that same wm; duplicates never refresh expiry;
    accepted rows emit immediately."""
    wms = _wm_during(batches)
    state: dict = {}
    out = []
    for b, rows in enumerate(batches):
        pw = wms[b - 1] if b >= 1 else None
        # evictions strictly before batch b: strongest is end of b-1,
        # which used wm_during[b-1] (== pw); apply lazily at lookup
        for k, m in rows:
            if pw is not None and m <= pw:
                continue  # late
            if k in state and not (pw is not None and state[k] <= pw):
                continue  # duplicate of a live key
            state[k] = m + _DELAY_MIN
            out.append((k, m))
    return sorted(out)


def _agg_model(batches, window_min=10):
    """The probed append-mode windowed-agg model: late filter of batch b
    drops rows whose WINDOW END <= wm during b-1; final no-data batch
    emits windows with end <= max(all) - delay; counts = kept rows."""
    wms = _wm_during(batches)
    kept: dict = {}
    for b, rows in enumerate(batches):
        pw = wms[b - 1] if b >= 1 else None
        for _k, m in rows:
            ws = (m // window_min) * window_min
            if pw is not None and ws + window_min <= pw:
                continue
            kept[ws] = kept.get(ws, 0) + 1
    final_wm = wms[len(batches)]
    if final_wm is None:
        return []
    return sorted(
        (ws, n) for ws, n in kept.items() if ws + window_min <= final_wm
    )


@settings(
    max_examples=examples(20),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=stream_batches())
def test_model_fuzz_drop_duplicates_within_watermark(spark, tmp_path_factory, batches):
    import pandas as pd

    d = str(tmp_path_factory.mktemp("ddw_fuzz"))
    _write_stream_batches(d, batches)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = src.withWatermark("ts", f"{_DELAY_MIN} minutes").dropDuplicatesWithinWatermark(["k"])
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("tf_ddw_fuzz").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    base = pd.Timestamp("2024-01-01 08:00:00")
    got = sorted(
        (r.k, int((pd.Timestamp(r.ts) - base).total_seconds() // 60))
        for r in spark.table("tf_ddw_fuzz").collect()
    )
    assert got == _dedup_model(batches), (batches, got)


@settings(
    max_examples=examples(20),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=stream_batches())
def test_model_fuzz_windowed_agg_eviction(spark, tmp_path_factory, batches):
    import pandas as pd

    d = str(tmp_path_factory.mktemp("agg_fuzz"))
    _write_stream_batches(d, batches)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = (
        src.withWatermark("ts", f"{_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("tf_agg_fuzz").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    base = pd.Timestamp("2024-01-01 08:00:00")
    got = sorted(
        (int((pd.Timestamp(r.ws) - base).total_seconds() // 60), r.n)
        for r in spark.table("tf_agg_fuzz").collect()
    )
    assert got == _agg_model(batches), (batches, got)


# ---------------------------------------------------------------------------
# Session-timeout (event-time TIMER path) model fuzzer — VERDICT r13 item 5.
# Drives random batch sequences (repeated keys, within-batch duplicates,
# boundary-rich 5-minute grid) through the REAL applyInPandasWithState
# session machine and checks against a full Python model of its rules:
# accept iff ts > wm (wm during batch b = max event time over batches < b,
# minus delay — the operator's one-behind visible watermark, NOT the
# built-ins' two-behind late-filter wm), sessionize by gap, emit iff
# session_end + gap < final wm (strict, matching the probed strict timer).
# ---------------------------------------------------------------------------

_SESS_GAP_MIN = 20


@st.composite
def session_batches(draw):
    n_batches = draw(st.integers(2, 4))
    batches = []
    for _b in range(n_batches):
        n = draw(st.integers(0, 6))
        rows = []
        for _ in range(n):
            k = draw(st.integers(1, 4))
            m = 5 * draw(st.integers(0, 36))
            c = draw(st.integers(-2, 5))
            rows.append((k, m, c))  # repeats and ties allowed — the merge
            # and the model must agree on them too
        batches.append(rows)
    return batches


def _write_session_batches(tmpdir, batches):
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01 08:00:00")
    for b, rows in enumerate(batches):
        df = pd.DataFrame(
            [(k, base + pd.Timedelta(minutes=m), c) for k, m, c in rows],
            columns=["user_id", "ts", "cents"],
        )
        t = pa.Table.from_pandas(df)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        t = t.set_column(
            t.schema.get_field_index("user_id"), "user_id",
            t.column("user_id").cast(pa.int64()),
        )
        t = t.set_column(
            t.schema.get_field_index("cents"), "cents", t.column("cents").cast(pa.int64())
        )
        pq.write_table(t, f"{tmpdir}/b{b}.parquet")
        os.utime(f"{tmpdir}/b{b}.parquet", (1_000_000_000 + b, 1_000_000_000 + b))


def _session_model(batches, gap=_SESS_GAP_MIN):
    """Python state machine of the session-timeout operator's rules. The
    incremental machine (batch-wise merge + mid-stream timer emission) is
    equivalent to global sessionization of the accepted set: an accepted
    row has ts > wm(batch) >= every wm that already closed a session >
    that session's end + gap, so it can never reach a closed session."""
    wms = _wm_during([[(k, m) for k, m, _c in rows] for rows in batches])
    acc = []
    for b, rows in enumerate(batches):
        wm = wms[b]
        for k, m, c in rows:
            if wm is None or m > wm:
                acc.append((k, m, c))
    final_wm = wms[len(batches)]
    out = []
    for k in sorted({a[0] for a in acc}):
        pts = sorted((m, c) for kk, m, c in acc if kk == k)
        sessions, cur = [], None
        for m, c in pts:
            if cur is not None and m <= cur[1] + gap:
                cur[1] = max(cur[1], m)
                cur[2] += 1
                cur[3] += c
            else:
                if cur is not None:
                    sessions.append(cur)
                cur = [m, m, 1, c]
        if cur is not None:
            sessions.append(cur)
        for s in sessions:
            if final_wm is not None and s[1] + gap < final_wm:
                out.append((k, s[0], s[1], s[2], s[3]))
    return sorted(out)


@settings(
    max_examples=examples(20),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=session_batches())
def test_model_fuzz_session_timeout(spark, tmp_path_factory, batches):
    import pandas as pd

    from torchfusion_spark.streaming import _run_session_timeout

    d = str(tmp_path_factory.mktemp("sess_fuzz"))
    _write_session_batches(d, batches)
    out = _run_session_timeout(spark, d, gap_min=_SESS_GAP_MIN, delay_min=_DELAY_MIN)
    base = pd.Timestamp("2024-01-01 08:00:00").value // 1000  # epoch µs
    got = sorted(
        (
            r.user_id,
            (r.session_start - base) // 60_000_000,
            (r.session_end - base) // 60_000_000,
            r.n_events,
            r.total_cents,
        )
        for r in out.collect()
    )
    assert got == _session_model(batches), (batches, got)


# ---------------------------------------------------------------------------
# stream_session_window model fuzzer — VERDICT r14 item 5a. Complete-mode
# session aggregation, probed semantics (r15): complete output retains ALL
# state (no eviction) but the late filter still applies — drop iff
# ts + gap <= the two-behind wm; kept rows sessionize with the
# inclusive-boundary merge (exactly-gap still merges). The fuzzer drives
# arbitrary batch sequences (repeated keys, same-instant duplicates,
# boundary-exact gaps AND boundary-exact lateness) through the REAL shared
# pipeline (streaming.session_window_stream — the registered plan) and
# checks the full Python state machine.
# ---------------------------------------------------------------------------

_SW_GAP_MIN = 30


@st.composite
def session_window_batches(draw):
    n_batches = draw(st.integers(2, 4))
    batches = []
    for _b in range(n_batches):
        n = draw(st.integers(0, 6))
        rows = []
        for _ in range(n):
            k = draw(st.sampled_from("AB"))
            # 10-min grid over 5 hours: exact-gap splits (30 = gap) and
            # same-instant duplicates are both common
            rows.append((k, 10 * draw(st.integers(0, 30))))
        batches.append(rows)
    return batches


def _sw_wm_during(batches):
    """wm (minutes, None = unset) in effect during each batch for the
    session-window op: same 30-min delay as the built-ins' fuzzers
    (_DELAY_MIN), max event time over prior batches minus delay."""
    return _wm_during(batches)


def _session_window_model(batches):
    """The probed complete-mode machine: late filter of batch b drops
    rows with m + gap <= wm two-behind (wm from batches <= b-2, ALL rows
    advance it); accepted rows sessionize per key with session_window's
    INCLUSIVE-boundary merge — next start <= current end merges, an
    event at exactly session_end extends the session (the probed native
    rule the r15 oracle fix encodes); count counts ROWS (duplicates
    included)."""
    wms = _sw_wm_during(batches)
    by_key: dict = {}
    for b, rows in enumerate(batches):
        pw = wms[b - 1] if b >= 1 else None
        for k, m in rows:
            if pw is not None and m + _SW_GAP_MIN <= pw:
                continue  # late: provisional window end behind the wm
            by_key.setdefault(k, []).append(m)
    out = []
    for k, ms in by_key.items():
        ms.sort()
        start, end, n = None, None, 0
        for m in ms:
            if start is None:
                start, end, n = m, m + _SW_GAP_MIN, 1
            elif m <= end:  # inclusive boundary: == gap still merges
                end, n = max(end, m + _SW_GAP_MIN), n + 1
            else:
                out.append((k, start, end, n))
                start, end, n = m, m + _SW_GAP_MIN, 1
        if start is not None:
            out.append((k, start, end, n))
    return sorted(out)


@settings(
    max_examples=examples(20),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=session_window_batches())
def test_model_fuzz_session_window_merge(spark, tmp_path_factory, batches):
    import pandas as pd

    from torchfusion_spark.streaming import session_window_stream

    d = str(tmp_path_factory.mktemp("sw_fuzz"))
    _write_stream_batches(d, batches)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select(F.col("k").alias("user_id"), "ts")
    )
    agg = session_window_stream(src, f"{_SW_GAP_MIN} minutes")
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("tf_sw_fuzz").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    base = pd.Timestamp("2024-01-01 08:00:00")
    got = sorted(
        (
            r.user_id,
            int((pd.Timestamp(r.session_start) - base).total_seconds() // 60),
            int((pd.Timestamp(r.session_end) - base).total_seconds() // 60),
            r.n_events,
        )
        for r in spark.table("tf_sw_fuzz").collect()
    )
    assert got == _session_window_model(batches), (batches, got)


# ---------------------------------------------------------------------------
# stream_stream_join model fuzzer — VERDICT r14 item 5b. Drives arbitrary
# two-typed batch sequences through the REAL shared pipeline
# (streaming.banded_stream_join — the registered banded plan) and checks a
# full Python state machine of the probed join semantics (r15 probes,
# documented on banded_stream_join): per-side watermarks (min-combined,
# unset until the side has seen rows), two-behind late filter dropping
# ts <= wm, click state evicted before matching when click_ts <= wm - 30.
# ---------------------------------------------------------------------------

_SSJ_DELAY_MIN = 60
_SSJ_WINDOW_MIN = 30


@st.composite
def join_batches(draw):
    n_batches = draw(st.integers(2, 4))
    batches = []
    for _b in range(n_batches):
        n = draw(st.integers(0, 6))
        rows = []
        for _ in range(n):
            k = draw(st.sampled_from("AB"))
            typ = draw(st.sampled_from("cp"))
            # 10-min grid over 5 hours: band boundaries (30-min bands),
            # exact window-edge pairs and exact wm boundaries all land
            rows.append((k, typ, 10 * draw(st.integers(0, 30))))
        batches.append(rows)
    return batches


def _join_model(batches):
    """The probed stream-stream inner-join state machine; rows are
    (user, typ, minute), ids are (batch*100 + index). Emits sorted
    (purchase_id, click_id)."""
    def wm_during(b):
        # two-behind: wm from batches <= b-2, min across sides, each side
        # unset until it has seen rows (ALL rows advance wm, even ones
        # the late filter then drops)
        prior = batches[: max(b - 1, 0)]
        cm = [m for rows in prior for _k, t, m in rows if t == "c"]
        pm = [m for rows in prior for _k, t, m in rows if t == "p"]
        if not cm or not pm:
            return None
        return min(max(cm), max(pm)) - _SSJ_DELAY_MIN

    clicks: list = []  # (user, minute, id) accepted click state
    purchases: list = []
    out = []
    for b, rows in enumerate(batches):
        wm = wm_during(b)
        new_c = [
            (k, m, b * 100 + i)
            for i, (k, t, m) in enumerate(rows)
            if t == "c" and (wm is None or m > wm)
        ]
        new_p = [
            (k, m, b * 100 + i)
            for i, (k, t, m) in enumerate(rows)
            if t == "p" and (wm is None or m > wm)
        ]
        live_c = [
            (k, m, i) for k, m, i in clicks
            if wm is None or m > wm - _SSJ_WINDOW_MIN
        ]
        live_p = [(k, m, i) for k, m, i in purchases if wm is None or m > wm]
        # new purchases x (state + new) clicks; new clicks x state purchases
        for pk, pm, pi in new_p:
            for ck, cm, ci in live_c + new_c:
                if pk == ck and pm - _SSJ_WINDOW_MIN <= cm <= pm:
                    out.append((pi, ci))
        for ck, cm, ci in new_c:
            for pk, pm, pi in live_p:
                if pk == ck and pm - _SSJ_WINDOW_MIN <= cm <= pm:
                    out.append((pi, ci))
        clicks = live_c + new_c
        purchases = live_p + new_p
    return sorted(out)


def _write_join_batches(tmpdir, batches):
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01 08:00:00")
    for b, rows in enumerate(batches):
        df = pd.DataFrame(
            [
                (k, typ, b * 100 + i, base + pd.Timedelta(minutes=m))
                for i, (k, typ, m) in enumerate(rows)
            ],
            columns=["k", "typ", "eid", "ts"],
        )
        t = pa.Table.from_pandas(df)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us"))
        )
        pq.write_table(t, f"{tmpdir}/b{b}.parquet")
        os.utime(f"{tmpdir}/b{b}.parquet", (1_000_000_000 + b, 1_000_000_000 + b))


@settings(
    max_examples=examples(20),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=join_batches())
def test_model_fuzz_stream_stream_join(spark, tmp_path_factory, batches):
    from torchfusion_spark.streaming import banded_stream_join

    d = str(tmp_path_factory.mktemp("ssj_fuzz"))
    _write_join_batches(d, batches)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def side(typ):
        return (
            spark.readStream.schema("k string, typ string, eid bigint, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .filter(F.col("typ") == typ)
            .select(
                F.col("k").alias("user_id"), "ts", F.col("eid").alias("event_id")
            )
        )

    j = banded_stream_join(side("c"), side("p"))
    q = (
        j.writeStream.outputMode("append").format("memory")
        .queryName("tf_ssj_fuzz").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r.purchase_id, r.click_id) for r in spark.table("tf_ssj_fuzz").collect()
    )
    assert got == _join_model(batches), (batches, got)


def test_scaled_state_partitions_split(spark):
    """r17: the applyInPandasWithState path defaults to min(16,
    parallelism) state partitions (per-group Python work parallelizes),
    the JVM-stateful path keeps min(8, parallelism) (store-setup-bound);
    torchfusion.stream.statePartitions overrides both and
    torchfusion.stream.pyStatePartitions overrides the Python path only.
    The context manager must restore the session's shuffle partitions on
    exit either way."""
    from torchfusion_spark.session import default_parallelism
    from torchfusion_spark.streaming import _scaled_state_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    for conf_val, py_val, python_state, want in [
        (None, None, False, min(8, default_parallelism())),
        (None, None, True, min(16, default_parallelism())),
        (None, "5", True, 5),
        (None, "5", False, min(8, default_parallelism())),
        ("3", "5", True, 3),
        ("3", None, False, 3),
    ]:
        spark.conf.unset("torchfusion.stream.statePartitions")
        spark.conf.unset("torchfusion.stream.pyStatePartitions")
        if conf_val is not None:
            spark.conf.set("torchfusion.stream.statePartitions", conf_val)
        if py_val is not None:
            spark.conf.set("torchfusion.stream.pyStatePartitions", py_val)
        with _scaled_state_partitions(spark, python_state=python_state):
            got = int(spark.conf.get(key))
            assert got == want, (conf_val, py_val, python_state, got, want)
        assert spark.conf.get(key) == before
    spark.conf.unset("torchfusion.stream.statePartitions")
    spark.conf.unset("torchfusion.stream.pyStatePartitions")


def test_stream_keeps_overrides_taken_at_start(spark, tables):
    """A stream runs on a clone of its session taken at ``start()``, so
    ``_run_to_memory`` holds its overrides around ``start()`` only: the
    run keeps the overridden state partitions and store provider after
    the caller's confs are restored."""
    from torchfusion_spark.session import overriding
    from torchfusion_spark.streaming import _event_stream, _scaled_state_partitions

    key, prov = "spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass"
    before = {k: spark.conf.get(k, None) for k in (key, prov)}
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark.conf.set("torchfusion.stream.statePartitions", "3")
    try:
        agg = _event_stream(spark, tables).groupBy("event_type").count()
        with _scaled_state_partitions(spark), overriding(spark, {prov: rocks}):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName("tf_override_at_start")
                .trigger(availableNow=True)
                .start()
            )
    finally:
        spark.conf.unset("torchfusion.stream.statePartitions")
    assert {k: spark.conf.get(k, None) for k in (key, prov)} == before
    q.awaitTermination()
    ops = [o for p in q.recentProgress for o in (p.get("stateOperators") or [])]
    assert ops
    assert {o["numShufflePartitions"] for o in ops} == {3}
    assert all(any(m.startswith("rocksdb") for m in o["customMetrics"]) for o in ops)
