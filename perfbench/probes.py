"""Measurement helpers the benchmark wraps around calls into the engine.

Everything here observes the engine from outside: wall clocks around
public calls, Spark's own status tracker and SQL metrics for the
DataFrame that was just timed, and /proc for memory. Nothing is patched
into ``torchfusion_spark``.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from contextlib import contextmanager, nullcontext

# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, pass id), written out
    once when the run ends. Disabled, ``span`` costs one ``nullcontext``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


# --- Spark counters ----------------------------------------------------------


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metrics) for every operator of the plan that ran,
    looking through adaptive re-planning into the final query stages and
    into subquery plans. A reused exchange is not descended into, so its
    producer's metrics count once."""
    out: list[tuple[str, dict[str, int]]] = []

    def metrics(node) -> dict[str, int]:
        d = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            d[kv._1()] = int(kv._2().value())
        return d

    def seq(s):
        it = s.iterator()
        while it.hasNext():
            yield it.next()

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        out.append((node.nodeName(), metrics(node)))
        if cls.startswith("Reused"):
            return
        for sub in seq(node.subqueries()):
            walk(sub)
        for child in seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_counters(nodes) -> dict[str, int]:
    """Scan, exchange, shuffle, spill and Python-eval totals of one plan."""
    c = dict.fromkeys(
        (
            "scan_bytes",
            "scan_rows",
            "exchanges",
            "shuffle_bytes",
            "spill_bytes",
            "python_total_ms",
            "python_init_ms",
            "python_bytes_sent",
            "python_rows",
            "python_nodes",
        ),
        0,
    )
    for name, m in nodes:
        if name.startswith("Scan "):
            c["scan_bytes"] += m.get("filesSize", 0)
            c["scan_rows"] += m.get("numOutputRows", 0)
        if name.endswith("Exchange") and not name.startswith("Reused"):
            c["exchanges"] += 1
        c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        c["spill_bytes"] += m.get("spillSize", 0)
        if name.startswith("ArrowEvalPython"):
            c["python_nodes"] += 1
            c["python_total_ms"] += m.get("pythonTotalTime", 0)
            c["python_init_ms"] += m.get("pythonInitTime", 0)
            c["python_bytes_sent"] += m.get("pythonDataSent", 0)
            c["python_rows"] += m.get("pythonNumRowsReceived", 0)
    return c


def cached_mb(spark) -> float:
    """Megabytes Spark holds in memory or on disk for cached RDDs."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total / 1e6


# --- memory --------------------------------------------------------------------


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it, so forked workers count it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process and its descendants (the JVM
    and its Python workers): every ``interval`` seconds the proportional
    set sizes of the whole tree are added up at once, and the largest sum
    is kept."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _poll(self):
        kb = sum(_pss_kb(pid) for pid in tree_pids(os.getpid()))
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._poll()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        self._poll()
        with self._lock:
            return self._peak_kb / 1e3


# --- output checks -------------------------------------------------------------


def arrow_to_pandas(df, table):
    """The pandas frame ``df.toPandas()`` would return, built from the
    Arrow table the timed ``toArrow()`` already fetched — the same
    per-column conversion PySpark applies, so the values serialize
    exactly as the oracle gate's ``toPandas`` path serializes them."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if table.num_rows == 0:
        return pd.DataFrame(columns=df.columns)
    pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
        date_as_object=True, coerce_temporal_nanoseconds=True
    )
    pdf.columns = df.columns
    jconf = df.sparkSession._jconf
    mode = jconf.pandasStructHandlingMode()
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=jconf.sessionLocalTimeZone(),
                struct_in_pandas="dict" if mode == "legacy" else mode,
                error_on_duplicated_field_names=mode == "legacy",
            )(pser)
            for (_, pser), field in zip(pdf.items(), df.schema.fields)
        ],
        axis="columns",
    )


def fingerprint(pdf) -> dict:
    """Order-free digest of a result: columns sorted by name, every value
    serialized with ``str`` (the oracle gate's rule: ``42`` and ``42.0``
    differ), rows sorted on that serialization, then hashed."""
    cols = sorted(pdf.columns)
    s = pdf.reindex(cols, axis=1).astype(str)
    if len(s) and cols:
        s = s.sort_values(by=cols)
    h = hashlib.sha256()
    for c in cols:
        h.update(c.encode() + b"\x1e")
        h.update("\x1f".join(s[c].tolist()).encode() + b"\x1e")
    return {"columns": cols, "rows": len(s), "sha256": h.hexdigest()}
