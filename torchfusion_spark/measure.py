"""One measurement path: time a DataFrame's full result on its own plan.

:func:`measure` fetches every row and column with ``df.toArrow()`` (the
analogue of DuckDB's ``fetchall()``) under its own job group, on the
DataFrame's own ``QueryExecution``, so the jobs and operator metrics it
reports describe the plan that was timed. A ``count()`` would run a
different plan, pruned of every column it does not need (Python UDFs
included). ``EXPLAIN ANALYZE``, ``bench.py`` and ``tools/perf_probe.py``
all time through it.
"""

from __future__ import annotations

import itertools
import time
import uuid
from typing import NamedTuple

_ROW_METRICS = ("numOutputRows", "pythonNumRowsReceived", "shuffleRecordsWritten")
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
# roots the driver runs itself when it fetches the result, leaving their
# SQL metrics (all shuffle metrics) at 0
_COLLECT_ROOTS = ("CollectLimit", "CollectTail", "TakeOrderedAndProject")


class Operator(NamedTuple):
    """An operator of the final plan and its SQL metrics. ``time_ms`` and
    ``bytes`` are its largest timing and size metric (phases nest, so they
    are not summed), ``None`` where Spark keeps none: an operator fused
    into a ``WholeStageCodegen`` stage has no time of its own, the stage
    carries it."""

    depth: int
    name: str
    rows: int | None
    time_ms: float | None
    bytes: int | None
    metrics: dict[str, int]


def measure(df):
    """Return ``(table, wall_s, counts, operators)``: ``df``'s full result
    as an Arrow table, the action's wall time, the jobs, stages and tasks
    it ran, and the operators of its final plan, depth first."""
    sc = df.sparkSession.sparkContext
    group = f"tf_measure_{uuid.uuid4().hex}"
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        table = df.toArrow()
        wall = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    # job and stage events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    counts = dict.fromkeys(("jobs", "stages", "tasks"), 0)
    for info in filter(None, map(tracker.getJobInfo, tracker.getJobIdsForGroup(group))):
        counts["jobs"] += 1
        for st in filter(None, map(tracker.getStageInfo, info.stageIds)):
            counts["stages"] += 1
            counts["tasks"] += st.numTasks
    operators = _operators(df._jdf.queryExecution().executedPlan())
    if operators and operators[0].name in _COLLECT_ROOTS:
        # the root produced exactly the fetched rows; its time and bytes
        # were never measured
        operators[0] = operators[0]._replace(rows=table.num_rows, time_ms=None, bytes=None)
    return table, wall, counts, operators


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def _operators(plan) -> list[Operator]:
    """Walk through adaptive re-planning into each query stage and into
    subquery plans. A reused exchange is listed but not descended into, so
    its producer's metrics count once."""
    out: list[Operator] = []

    def walk(node, depth):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), depth)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), depth)
        if cls == "InputAdapter":  # codegen plumbing, no metrics
            return walk(node.child(), depth)
        metrics, kinds = {}, {"timing": [], "nsTiming": [], "size": []}
        for kv in _seq(node.metrics()):
            metrics[kv._1()] = int(kv._2().value())
            kinds.get(kv._2().metricType(), []).append(metrics[kv._1()])
        times = [float(ms) for ms in kinds["timing"]] + [ns / 1e6 for ns in kinds["nsTiming"]]
        out.append(
            Operator(
                depth,
                node.nodeName().strip(),
                next((metrics[k] for k in _ROW_METRICS if k in metrics), None),
                max(times, default=None),
                max(kinds["size"], default=None),
                metrics,
            )
        )
        if not cls.startswith("Reused"):
            for sub in itertools.chain(_seq(node.subqueries()), _seq(node.children())):
                walk(sub, depth + 1)

    walk(plan, 0)
    return out


def render(operators: list[Operator]) -> str:
    """The operator tree, one indented line per operator with its rows,
    time and bytes (``-`` where Spark keeps no such metric)."""

    def fmt(v, unit=""):
        return "-" if v is None else f"{v:,.1f}{unit}" if isinstance(v, float) else f"{v:,}{unit}"

    return "\n".join(
        f"{'  ' * op.depth}{op.name}  rows={fmt(op.rows)}  "
        f"time={fmt(op.time_ms, ' ms')}  bytes={fmt(op.bytes)}"
        for op in operators
    )
