"""Benchmark for torchfusion_spark: one workload per run, one client in a
closed loop, every result fetched in full and checked against its oracle.

    python3 perfbench/run.py --workload inference|rowwise \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Set-up (session, generated inputs,
tables, DDL, warm-up query) is timed as ``setup_s``; then passes over
the workload repeat until ``--seconds`` have elapsed. A pass is timed
over the engine calls only (the query's ``Engine.sql`` and its action),
not over the output checks that follow them. The last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. The line before it is the run
record. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from probes import PeakRss, Tracer, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("inference", "rowwise")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (so interpreter
    start-up and imports count towards set-up time)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def git_commit() -> str | None:
    """HEAD of the checkout's own git directory, if it has one."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until they have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while (left := tree_pids(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tree_pids(os.getpid())[1:] and time.monotonic() < deadline + 5:
        time.sleep(0.2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "torchfusion_spark", "__init__.py")):
        print(f"perfbench: no torchfusion_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        print(f"perfbench: input tables missing under {DATA}", file=sys.stderr)
        return 2

    # Everything the run writes stays inside the checkout.
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    sys.path.insert(0, ROOT)

    # The result line owns stdout: the JVM, the Python workers and any
    # stray print inherit fd 1 pointed at stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from workloads import BATCH_SIZES, PER_LAYER, ROWS, Run, Scoring, SetupFailed, median_layers

    tracer = Tracer(enabled=bool(args.trace))
    # Memory is polled only in traced runs, so timed passes of an
    # untraced run share the CPU with nothing the benchmark adds.
    with PeakRss() if args.trace else nullcontext() as rss:
        t0 = time.perf_counter()
        with tracer.span("session"):
            from torchfusion_spark.session import session

            spark = session(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                },
            )
        session_s = time.perf_counter() - t0
        run = Run(spark, DATA, work, args.seed, tracer)
        run.layer["session.start_s"] = session_s

        workload = Scoring(BATCH_SIZES[args.workload])

        # Per pass, split by traced/untraced: engine time (builder and
        # action of every operation) and wall time (checks included).
        timed = {False: [], True: []}
        walls = {False: [], True: []}
        rows = []
        try:
            workload.setup(run)
            setup_s = process_age_s()
            # Passes repeat until the time is up. A traced run alternates
            # untraced and traced passes (at least one of each), so the
            # tracing overhead is measured within one process.
            t_end = time.perf_counter() + args.seconds
            i = 0
            while True:
                traced = bool(args.trace) and i % 2 == 1
                tracer.enabled = traced
                tracer.pass_id = i
                run.rows_per_pass, run.timed_s = 0, 0.0
                t = time.perf_counter()
                with tracer.span("pass"):
                    workload.one_pass(run, traced)
                walls[traced].append(time.perf_counter() - t)
                timed[traced].append(run.timed_s)
                rows.append(run.rows_per_pass)
                i += 1
                if time.perf_counter() >= t_end and (not args.trace or walls[True]):
                    break
            tracer.enabled, tracer.pass_id = bool(args.trace), None
            if args.trace:
                workload.trace_extra(run)
        except SetupFailed as exc:
            run.fail("setup", str(exc))
        finally:
            peak_mb = rss.peak_mb if rss else None
            master = spark.sparkContext.master
            stop_spark(spark)

    failed = len(run.failures)
    for line in run.failures:
        print(f"perfbench FAILED {line}", file=sys.stderr)
    mix = timed[False]
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(run.layer)
        layer.update(median_layers(run.pass_layers))
        if walls[False] and walls[True]:
            layer["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(
                walls[False]
            )
        layer["trace.spans"] = len(tracer.spans)
        layer["peak_rss_mb"] = peak_mb
        metrics = {k: {"value": layer[k], "unit": unit} for k, unit in PER_LAYER.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        trace_path = os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        )
        with open(trace_path, "w") as f:
            json.dump({"spans": tracer.spans, "layers": layer}, f)
    elif mix:
        metrics = {
            "rows_per_s": {"value": statistics.median(rows) / statistics.median(mix), "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    else:
        metrics = {}

    from torchfusion_spark.staging import staging_pool_width

    record = {
        "run_record": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "spark_master": master,
            "data": os.path.relpath(DATA, ROOT),
            "rows": ROWS,
            "batch_size": BATCH_SIZES[args.workload],
            "git_commit": git_commit(),
            "staging_pool_env": os.environ.get("SPARK_GRAFT_STAGING_POOL"),
            "staging_pool_width": staging_pool_width(),
            "pass_s": mix,
            "pass_wall_s": walls[False],
            "traced_pass_s": timed[True],
            "failures": run.failures,
        }
    }
    result = {
        "correct": failed == 0 and bool(mix),
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }
    os.write(real_stdout, (json.dumps(record) + "\n" + json.dumps(result) + "\n").encode())
    os.close(real_stdout)
    shutil.rmtree(work, ignore_errors=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
