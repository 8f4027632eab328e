"""The bench's stdout contract: exactly ONE line on fd 1, and that line
is the JSON payload.

Round 15's driver artifact (BENCH_r15.json) recorded parsed: null — the
driver could not recover the payload from the bench's stdout — which
nuked every per-query round-over-round comparison in PERF_r16.json
(VERDICT r16 item 2). bench.claim_stdout()/emit_result() now enforce the
contract at the file-descriptor level so the JVM, child processes and
stray Python prints cannot reach fd 1. These tests drive that mechanism
in a real subprocess (no Spark needed): noise is written through every
channel a bench run has — print(), sys.stdout, os.write(1, ...), and a
child process inheriting fd 1 — and stdout must still be exactly the one
JSON line."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = r"""
import json, os, subprocess, sys
sys.path.insert(0, %(repo)r)
import bench

fd = bench.claim_stdout()

# every stdout channel a bench run has, post-claim:
print("python print noise")                      # Python-level print
sys.stdout.write("sys.stdout noise\n")           # direct stream write
os.write(1, b"raw fd1 noise\n")                  # raw fd 1 (the JVM's view)
subprocess.run(["echo", "child process noise"])  # inherited fd 1 (py4j/JVM)
sys.stderr.write("legit stderr line\n")

bench.emit_result(fd, {"metric": "headline_queries_total", "value": 1.5,
                       "unit": "sec", "queries": {"q": 1.5}, "sf": 0.0})
"""


def _run_driver() -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", DRIVER % {"repo": REPO}],
        capture_output=True,
        text=True,
        timeout=60,
    )


def test_stdout_is_exactly_one_json_line():
    proc = _run_driver()
    assert proc.returncode == 0, proc.stderr
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, f"stdout must be ONE line, got {lines!r}"
    payload = json.loads(lines[0])
    assert payload["metric"] == "headline_queries_total"
    assert payload["unit"] == "sec"
    assert payload["queries"] == {"q": 1.5}


def test_noise_lands_on_stderr_not_stdout():
    proc = _run_driver()
    # the noise is preserved (diagnosability), just not on fd 1
    for marker in (
        "python print noise",
        "sys.stdout noise",
        "raw fd1 noise",
        "child process noise",
        "legit stderr line",
    ):
        assert marker in proc.stderr
        assert marker not in proc.stdout


def test_bench_main_routes_through_emit_result():
    """bench.main() must end with emit_result (the contract emitter), not
    a bare print — a regression reintroducing print() would put the
    payload on the redirected fd (stderr) and publish NOTHING on stdout."""
    src = open(os.path.join(REPO, "bench.py")).read()
    assert "emit_result(real_stdout, payload)" in src
    assert "real_stdout = claim_stdout()" in src
    assert "print(json.dumps(payload))" not in src


def _function_source(path: str, name: str):
    import ast

    tree = ast.parse(open(os.path.join(REPO, path)).read())
    return next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == name)


def test_timed_actions_go_through_measure():
    """Every timed path fetches the full result through measure() (the
    toArrow() analogue of DuckDB's fetchall()); none times a count(),
    whose pruned plan skips unused columns, Python UDFs included."""
    import ast

    for path, fn in (
        ("bench.py", "run_timed"),
        ("tools/perf_probe.py", "main"),
        ("torchfusion_spark/engine.py", "_explain_analyze"),
    ):
        calls = [n.func for n in ast.walk(_function_source(path, fn)) if isinstance(n, ast.Call)]
        names = {getattr(f, "id", None) or getattr(f, "attr", None) for f in calls}
        assert "measure" in names, f"{path}:{fn} does not time through measure()"
        other = names & {"count", "collect", "toPandas", "save"}
        assert not other, f"{path}:{fn} times {other}"


def test_per_query_columns_sum_the_timed_plans_operators():
    """Each query's row carries its builder's wall, its action's jobs,
    and its shuffle bytes and Python workers' init and total time,
    summed over every operator of the timed plan."""
    import ast

    import bench
    from torchfusion_spark.measure import Operator

    def op(**metrics):
        return Operator(0, "x", None, None, None, metrics)

    operators = [
        op(pythonInitTime=40, pythonTotalTime=300, pythonDataSent=9),
        op(shuffleBytesWritten=1024),
        op(pythonInitTime=2, pythonTotalTime=30),
    ]
    assert bench.operator_sums(operators) == {
        "shuffle_bytes": 1024,
        "python_init_ms": 42,
        "python_total_ms": 330,
    }
    assert bench.run_columns(0.123456, {"jobs": 3}, operators) == {
        "build_s": 0.1235,
        "jobs": 3,
        **bench.operator_sums(operators),
    }
    # every run column is a payload section of its own, next to jobs
    assert set(bench.run_columns(0.0, {"jobs": 0}, [])) <= set(bench.PER_QUERY)
    run_timed = _function_source("bench.py", "run_timed")
    calls = {getattr(n.func, "id", None) for n in ast.walk(run_timed) if isinstance(n, ast.Call)}
    assert "run_columns" in calls
