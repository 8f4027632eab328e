"""Spark settings have one owner, ``torchfusion_spark/session.py``:
``configure`` applies the runtime confs once per session, so a caller's
settings stick, and ``overriding`` is the one way to change a conf for a
while and restore it."""

from __future__ import annotations

import threading

import pytest


def test_session_settings_survive_engine_calls(tables):
    """``session(shuffle_partitions=…, extra_conf=…)`` keeps both through
    ``Engine``, ``load_tables`` and a registry builder. A fresh process,
    because the memo is per session object and the suite's session is
    already configured."""
    import json
    import os
    import subprocess
    import sys

    child = (
        "import json, sys\n"
        "from torchfusion_spark.engine import Engine\n"
        "from torchfusion_spark.plans import REGISTRY\n"
        "from torchfusion_spark.session import session\n"
        "from torchfusion_spark.sources import load_tables\n"
        "spark = session(app_name='tf_settings_probe', shuffle_partitions=3,\n"
        "                extra_conf={'spark.sql.parquet.aggregatePushdown': 'false'})\n"
        "Engine(spark)\n"
        "load_tables(spark, sys.argv[1])\n"
        "REGISTRY['select_distinct'].builder(spark, sys.argv[1]).count()\n"
        "keys = ('spark.sql.shuffle.partitions', 'spark.sql.parquet.aggregatePushdown',\n"
        "        'spark.sql.session.timeZone')\n"
        "print(json.dumps({k: spark.conf.get(k) for k in keys}))\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", child, tables], cwd=repo, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.parquet.aggregatePushdown": "false",
        "spark.sql.session.timeZone": "UTC",
    }


def test_conf_writes_only_in_session():
    """Only ``session.py`` writes a Spark SQL conf; ``config.py`` writes
    the ``torchfusion.*`` namespace and nothing else. A write anywhere
    else is a second owner that can undo a caller's setting."""
    import re
    from pathlib import Path

    from torchfusion_spark import config

    root = Path(__file__).resolve().parents[1] / "torchfusion_spark"
    token = re.compile(r"\.conf\.(set|unset)\(")
    hits = [
        f"{path.relative_to(root)}:{i}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path not in (root / "session.py", root / "config.py")
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if token.search(line)
    ]
    assert not hits, hits
    assert all(k.startswith(f"{config.PREFIX}.") for k in config._DEFAULTS)


def test_overriding_nested_restores_each_level(spark):
    from torchfusion_spark.session import overriding

    k1, k2 = "spark.sql.adaptive.enabled", "spark.tf_test.nested"
    before = spark.conf.get(k1)
    with overriding(spark, {k1: "false"}):
        assert spark.conf.get(k1) == "false"
        with overriding(spark, {k1: "true", k2: "x"}):
            assert (spark.conf.get(k1), spark.conf.get(k2)) == ("true", "x")
        assert spark.conf.get(k1) == "false"
        assert spark.conf.get(k2, None) is None  # had no value: unset again
    assert spark.conf.get(k1) == before


def test_overriding_restores_when_the_body_raises(spark):
    from torchfusion_spark.session import overriding

    k1, k2 = "spark.sql.adaptive.enabled", "spark.tf_test.raised"
    before = spark.conf.get(k1)
    with pytest.raises(RuntimeError, match="body failed"):
        with overriding(spark, {k1: "false", k2: "x"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(k1) == before
    assert spark.conf.get(k2, None) is None


def test_overriding_from_two_threads(spark):
    """Threads overriding two different keys, over and over, more threads
    than cores and a short switch interval: each body sees its own value,
    and every key ends where it started."""
    import os
    import sys

    from torchfusion_spark.session import overriding

    keys = {"spark.sql.adaptive.enabled": "false", "spark.tf_test.threaded": "on"}
    before = {k: spark.conf.get(k, None) for k in keys}
    seen: dict[str, set] = {k: set() for k in keys}
    errors: list[Exception] = []

    def loop(key: str, value: str) -> None:
        try:
            for _ in range(10):
                with overriding(spark, {key: value}):
                    seen[key].add(spark.conf.get(key))
        except Exception as e:  # noqa: BLE001 — asserted on the main thread
            errors.append(e)

    per_key = max(2, (os.cpu_count() or 2) // 2 + 1)
    threads = [
        threading.Thread(target=loop, args=kv) for kv in keys.items() for _ in range(per_key)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen == {k: {v} for k, v in keys.items()}
    assert {k: spark.conf.get(k, None) for k in keys} == before
