"""The benchmark's workloads: one client, a closed loop, each query's
full result fetched with ``toArrow()`` and checked against its oracle.

Both workloads score every row of the same seeded feature table with
one query, ``argmax(mlp(features))``, and differ in how many rows the
model takes per forward call: ``inference`` 256, ``rowwise`` one. A
workload is a set-up (everything before the first timed pass), a pass
(one timed query) and the probes its traced run adds. Each receives a
:class:`Run`, which owns the session, the tracer and the failure
accounting.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import traceback
from contextlib import contextmanager

from probes import (
    Tracer,
    arrow_to_pandas,
    cached_mb,
    fingerprint,
    job_counts,
    plan_counters,
    plan_nodes,
)

HERE = os.path.dirname(os.path.abspath(__file__))

# LLM-data queries that read the session-staged relations the prewarm
# builds; replayed by the staging probe of a traced run.
CORPUS = [
    "dedup_minhash_lsh",
    "sample_dsir_importance",
    "sim_cosine_near_dup_lsh",
    "multimodal_dedup",
    "corpus_strip_boilerplate_lines",
]

# Streaming witnesses replayed once at the end of a traced run.
STREAMING = ["stream_windowed_counts", "stream_stateful_user_stats"]

STAGING_COMPONENTS = [
    "hx_shingles",
    "sim_norms",
    "substring_grams",
    "unigrams",
    "payload_phash",
    "frame_phash",
    "doc_lines",
    "pack_tokens",
    "li_by_order",
    "url_index",
    "minhash_clusters",
    "bloom_filter",
    "containment_index",
    "quality_labels",
    "sim_assign",
    "sim_buckets",
]

# Per-layer metrics of a traced run, by module, with units. A workload
# that does not reach a module reports 0 for it.
PER_LAYER: dict[str, str] = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.load_tables_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "rows",
    "staging.prewarm_s": "s",
    "staging.jobs": "count",
    "staging.cached_mb": "MB",
    **{f"staging.{c}_s": "s" for c in STAGING_COMPONENTS},
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.exchanges": "count",
    "plans.shuffle_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    **{f"query.{q}_s": "s" for q in CORPUS},
    "engine.ddl_ms": "ms",
    "engine.sql_ms": "ms",
    "models.forward_rows_per_s": "rows/s",
    "models.batching_ms": "ms",
    "models.python_total_ms": "ms",
    "models.python_init_ms": "ms",
    "models.python_bytes_sent": "bytes",
    "models.python_rows": "rows",
    "functions.argmax_s": "s",
    **{f"streaming.{w.removeprefix('stream_')}_s": "s" for w in STREAMING},
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_bytes_peak": "bytes",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

ROWS = 1_000_000
# Row groups of the generated file: Spark splits the scan by row group,
# so each core's Python worker scores a share of a pass.
ROW_GROUPS = 8
# The warm-up scores every tenth row: enough to start a Python worker
# per scan task, load the model and compile the scan, at about a tenth
# of the cost of a full pass.
WARMUP_EVERY = 10
FEATURES = 64
# Rows per forward call (``torchfusion.batch_size``) of each workload.
BATCH_SIZES = {"inference": 256, "rowwise": 1}
QUERY_TIMEOUT_S = 60.0
# A class is right when its oracle logit is within this of the row's
# largest: one-row and 256-row forward calls round differently, so a
# near-tie may resolve either way (seen once in 1M rows at batch size 1).
TIE_TOL = 1e-4
# Rows the model probe batches and runs forward outside Spark.
PROBE_ROWS = 100_000
# Passes of the corpus queries in the staging probe; the query times
# reported are those of the last, the first being cold.
PROBE_PASSES = 2


class SetupFailed(RuntimeError):
    """Set-up could not finish; the run reports failure without timing."""


class Run:
    """State of one benchmark process: session, tracer, clocks, counters."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer: Tracer):
        import numpy as np

        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = random.Random(seed)  # probe query order
        self.np_rng = np.random.default_rng(seed)  # generated inputs
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.pass_layers: list[dict[str, float]] = []
        # Per pass: rows scored, and seconds spent inside the engine (the
        # query's Engine.sql call and its action; the checks and counter
        # reads the benchmark does after them are not counted).
        self.rows_per_pass = 0
        self.timed_s = 0.0
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)
        self._groups = 0

    def fail(self, what: str, detail: str) -> None:
        self.failures.append(f"{what}: {detail}")

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts it failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — recorded and counted, run continues
            traceback.print_exc()
            self.fail(what, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None

    @contextmanager
    def job_group(self):
        """Tag the Spark jobs of one operation with their own group, and
        cancel them if the operation outlives ``QUERY_TIMEOUT_S``."""
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.start()
        try:
            yield group
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def check(self, name: str, df, table) -> None:
        got = fingerprint(arrow_to_pandas(df, table))
        want = self.expected[name]
        if got != want:
            raise AssertionError(f"result differs from oracle: got {got} want {want}")


def median_layers(passes: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over traced passes."""
    keys = {k for p in passes for k in p}
    return {k: statistics.median(p.get(k, 0) for p in passes) for k in sorted(keys)}


# --- the two workloads -----------------------------------------------------------


class Scoring:
    """The reference's flagship: ``SET torchfusion.batch_size``, then
    ``CREATE FUNCTION … LANGUAGE TORCH`` over the demo MLP, then
    ``SELECT id, argmax(mlp(features))`` over every generated row."""

    select = "SELECT id, argmax(perfbench_mlp(features)) AS cls FROM features"

    def __init__(self, batch_size: int):
        self.batch_size = batch_size
        self.engine = None
        self.logits = None
        self.x = None
        self.model_path = None

    def setup(self, run: Run) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from torchfusion_spark.engine import Engine
        from torchfusion_spark.models.fixtures import oracle_predict, write_demo_model
        from torchfusion_spark.sources import load_tables

        with run.tracer.span("generate_inputs"):
            x = run.np_rng.standard_normal((ROWS, FEATURES), dtype=np.float32)
            offsets = pa.array(np.arange(0, ROWS * FEATURES + 1, FEATURES, dtype=np.int32))
            features = pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1)))
            pq.write_table(
                pa.table({"id": np.arange(ROWS, dtype=np.int64), "features": features}),
                os.path.join(run.work_dir, "features.parquet"),
                row_group_size=ROWS // ROW_GROUPS,
            )
            self.model_path = write_demo_model(os.path.join(run.work_dir, "mlp.npz"))
            self.logits = oracle_predict(x)
            self.x = x
        t0 = time.perf_counter()
        with run.tracer.span("load_tables"):
            load_tables(run.spark, run.work_dir, tables=("features",))
        run.layer["sources.load_tables_s"] = time.perf_counter() - t0
        self.engine = Engine(run.spark)
        t0 = time.perf_counter()
        with run.tracer.span("Engine.sql"):
            self.engine.sql(f"SET torchfusion.batch_size = {self.batch_size}")
            self.engine.sql(
                "CREATE OR REPLACE FUNCTION perfbench_mlp(FLOAT[]) RETURNS FLOAT[] "
                f"LANGUAGE TORCH AS '{self.model_path}'"
            )
        run.layer["engine.ddl_ms"] = (time.perf_counter() - t0) * 1e3
        with run.tracer.span("warmup"):
            if run.attempt("warm-up", self._warm_up) is None:
                raise SetupFailed("the warm-up query failed")

    def _classes(self, table, n: int):
        """Class per id of a result table; -1 where an id is missing."""
        import numpy as np

        got = np.full(n, -1, dtype=np.int64)
        got[table.column("id").to_numpy()] = table.column("cls").to_numpy()
        return got

    def _wrong(self, got, rows=slice(None)) -> int:
        """Rows whose class is missing or not a largest oracle logit."""
        import numpy as np

        logits = self.logits[rows]
        ok = (got >= 0) & (got < logits.shape[1])
        picked = np.take_along_axis(logits, np.where(ok, got, 0)[:, None], axis=1)[:, 0]
        return int((~ok | (picked < logits.max(axis=1) - TIE_TOL)).sum())

    def _warm_up(self) -> bool:
        table = self.engine.sql(f"{self.select} WHERE id % {WARMUP_EVERY} = 0").toArrow()
        rows = slice(None, None, WARMUP_EVERY)
        got = self._classes(table, ROWS)[rows]
        if table.num_rows != len(got) or self._wrong(got, rows):
            raise AssertionError("warm-up classes differ from the oracle")
        return True

    def _score(self, run: Run, acc: dict | None) -> None:
        with run.job_group() as group:
            t0 = time.perf_counter()
            with run.tracer.span("Engine.sql"):
                df = self.engine.sql(self.select)
            t1 = time.perf_counter()
            with run.tracer.span("action"):
                table = df.toArrow()
            t2 = time.perf_counter()
        run.timed_s += t2 - t0
        run.rows_per_pass += table.num_rows
        # coverage guard: the timed plan must have run the model on every row
        c = plan_counters(plan_nodes(df))
        if c["python_nodes"] == 0 or c["python_rows"] != ROWS:
            raise AssertionError(
                f"timed plan scored {c['python_rows']} rows in {c['python_nodes']} "
                f"ArrowEvalPython nodes, expected {ROWS}"
            )
        if table.num_rows != ROWS:
            raise AssertionError(f"{table.num_rows} rows scored, expected {ROWS}")
        bad = self._wrong(self._classes(table, ROWS))
        if bad:
            raise AssertionError(f"{bad} of {ROWS} classes differ from the oracle")
        if acc is not None:
            acc["engine.sql_ms"] = (t1 - t0) * 1e3
            acc["plans.build_s"] = t1 - t0
            acc["plans.exec_s"] = t2 - t1
            for k, v in job_counts(run.spark, group).items():
                acc[f"plans.{k}"] = v
            acc["sources.scan_bytes"] = c["scan_bytes"]
            acc["sources.scan_rows"] = c["scan_rows"]
            for k in ("exchanges", "shuffle_bytes", "spill_bytes"):
                acc[f"plans.{k}"] = c[k]
            for k in ("python_total_ms", "python_init_ms", "python_bytes_sent", "python_rows"):
                acc[f"models.{k}"] = c[k]

    def one_pass(self, run: Run, traced: bool) -> None:
        acc = {} if traced else None
        run.attempt("score", lambda: self._score(run, acc))
        if traced and acc:
            run.pass_layers.append(acc)

    def trace_extra(self, run: Run) -> None:
        self._model_probe(run)
        staging_probe(run)
        streaming_probe(run)

    def _model_probe(self, run: Run) -> None:
        """Forward pass and batching kernels alone, and argmax without the
        Python boundary: the floor and ceiling around ``rows_per_s``."""
        import numpy as np

        from torchfusion_spark.models.backends import load_predictor
        from torchfusion_spark.models.batching import create_batched, flatten_batched

        values = self.x[:PROBE_ROWS].reshape(-1)
        offsets = np.arange(0, PROBE_ROWS * FEATURES + 1, FEATURES)
        with open(self.model_path, "rb") as f:
            predictor = load_predictor(f.read(), self.model_path)
        t0 = time.perf_counter()
        with run.tracer.span("models.batching"):
            batches = list(create_batched(values, offsets, self.batch_size))
            flatten_batched(batches)
        t1 = time.perf_counter()
        with run.tracer.span("models.forward"):
            outs = [predictor(b) for b in batches]
        t2 = time.perf_counter()
        flatten_batched(outs)
        run.layer["models.batching_ms"] = (t1 - t0) * 1e3
        run.layer["models.forward_rows_per_s"] = PROBE_ROWS / (t2 - t1)

        def argmax_pass():
            df = run.spark.sql("SELECT id, argmax(features) AS cls FROM features")
            t = time.perf_counter()
            with run.tracer.span("functions.argmax"):
                table = df.toArrow()
            elapsed = time.perf_counter() - t
            got = self._classes(table, ROWS)
            if table.num_rows != ROWS or (got != self.x.argmax(axis=1)).any():
                raise AssertionError("argmax(features) differs from numpy argmax")
            return elapsed

        times = [run.attempt("functions.argmax", argmax_pass) for _ in range(2)]
        run.layer["functions.argmax_s"] = times[-1] or 0.0


# --- probes of the layers no timed pass reaches --------------------------------------


def _query_once(run: Run, name: str) -> None:
    """Build, fetch and check one registry query; record its engine time."""
    from torchfusion_spark.plans import REGISTRY

    q = REGISTRY[name]
    with run.job_group(), run.tracer.span(name):
        t0 = time.perf_counter()
        with run.tracer.span("builder"):
            df = q.builder(run.spark, run.data_dir)
        with run.tracer.span("action"):
            table = df.toArrow()
        run.layer[f"query.{name}_s"] = time.perf_counter() - t0
    run.check(name, df, table)


def staging_probe(run: Run) -> None:
    """Session staging: ``prewarm_staging`` over the committed tables with
    a hook that times each component, then the corpus queries that read
    the staged relations, checked against their oracles."""
    from torchfusion_spark.sources import load_tables
    from torchfusion_spark.staging import prewarm_staging

    with run.tracer.span("load_tables"):
        load_tables(run.spark, run.data_dir)
    sc = run.spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    lock = threading.Lock()
    parent = None

    def timed(name, fn, *args):
        # components run on the prewarm's own pool threads, outside the
        # tracer's stack: record each span by hand under the prewarm span
        t0 = time.perf_counter()
        fn(*args)
        t1 = time.perf_counter()
        with lock:
            run.layer[f"staging.{name}_s"] = t1 - t0
            if parent is not None:
                run.tracer.spans.append(
                    {"id": len(run.tracer.spans), "name": name, "parent": parent["id"],
                     "pass": None, "start": t0, "end": t1}
                )

    t0 = time.perf_counter()
    with run.tracer.span("prewarm_staging") as parent:
        ok = run.attempt("prewarm_staging", lambda: prewarm_staging(run.spark, timed=timed) or True)
    run.layer["staging.prewarm_s"] = time.perf_counter() - t0
    if not ok:
        return  # the queries would build the staged relations themselves
    run.layer["staging.jobs"] = len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)
    run.layer["staging.cached_mb"] = cached_mb(run.spark)
    for _ in range(PROBE_PASSES):
        order = list(CORPUS)
        run.rng.shuffle(order)
        for name in order:
            run.attempt(name, lambda n=name: _query_once(run, n))


def streaming_probe(run: Run) -> None:
    """Replay the streaming witnesses once, under a listener that sums
    each micro-batch's phase durations and peak state size."""
    from pyspark.sql.streaming import StreamingQueryListener

    from torchfusion_spark.plans import REGISTRY

    sums = {"batches": 0, "addBatch": 0, "queryPlanning": 0, "walCommit": 0, "state": 0}
    done = threading.Event()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sums["batches"] += 1
            for k in ("addBatch", "queryPlanning", "walCommit"):
                sums[k] += p.durationMs.get(k, 0)
            state = sum(op.memoryUsedBytes for op in p.stateOperators)
            sums["state"] = max(sums["state"], state)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = Listener()
    run.spark.streams.addListener(listener)
    try:
        for name in STREAMING:
            done.clear()

            def witness(n=name):
                t0 = time.perf_counter()
                with run.tracer.span(n):
                    df = REGISTRY[n].builder(run.spark, run.data_dir)
                    table = df.toArrow()
                run.layer[f"streaming.{n.removeprefix('stream_')}_s"] = time.perf_counter() - t0
                run.check(n, df, table)

            run.attempt(name, witness)
            done.wait(10)  # listener events arrive asynchronously
    finally:
        run.spark.streams.removeListener(listener)
    run.layer.update(
        {
            "streaming.batches": sums["batches"],
            "streaming.add_batch_ms": sums["addBatch"],
            "streaming.planning_ms": sums["queryPlanning"],
            "streaming.wal_commit_ms": sums["walCommit"],
            "streaming.state_bytes_peak": sums["state"],
        }
    )
