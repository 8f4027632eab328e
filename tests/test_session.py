"""Spark settings have one owner, ``torchfusion_spark/session.py``:
``configure`` applies the runtime confs once per session, so a caller's
settings stick; ``scoped`` gives a query loop its own confs on a clone,
and ``overriding`` changes a conf for a while and restores it."""

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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_overriding_and_clones_only_where_owned():
    """``overriding`` is session-wide, so only ``session.py`` and the
    stream starts in ``streaming`` use it; a per-query setting goes
    through ``scoped``, the one place that clones a session."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "torchfusion_spark"
    allowed = {
        "overriding(": {root / "session.py", root / "streaming" / "__init__.py"},
        "cloneSession": {root / "session.py"},
    }
    hits = [
        f"{path.relative_to(root)}:{i}: {token}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for token, owners in allowed.items()
        if path not in owners and re.search(r"\b" + re.escape(token), line)
    ]
    assert not hits, hits


def test_clone_session_reachable_through_py4j(spark):
    """``cloneSession`` is ``private[sql]`` in Scala but public in the
    bytecode py4j calls; a Spark upgrade that hides it fails here."""
    j = spark._jsparkSession.cloneSession()
    assert not j.equals(spark._jsparkSession)
    assert j.sparkContext().equals(spark._jsparkSession.sparkContext())


def test_scoped_confs_stay_on_the_clone(spark):
    from torchfusion_spark.session import configure, scoped

    key, probe = "spark.sql.adaptive.enabled", "spark.tf_test.scoped"
    before = spark.conf.get(key)
    clone = scoped(spark, {key: "false", probe: "x"})
    assert configure(clone) is clone
    assert (clone.conf.get(key), clone.conf.get(probe)) == ("false", "x")
    assert spark.conf.get(key) == before
    assert spark.conf.get(probe, None) is None
    assert "AdaptiveSparkPlan" not in _plan(clone.range(10).groupBy("id").count())
    assert "AdaptiveSparkPlan" in _plan(spark.range(10).groupBy("id").count())
    # the clone is configured: the parent's functions resolve in it
    assert clone.sql("SELECT argmax(array(1.0, 3.0, 2.0)) AS m").collect()[0].m == 1
    # making the clone leaves RDD.toDF on the parent
    assert spark.sparkContext.parallelize([(1,)]).toDF(["a"]).sparkSession is spark


def test_scoped_views_snapshot_at_the_call(spark):
    """The clone holds the parent's temp views as of ``scoped()``: one
    made earlier is visible in it, one the parent makes later is not,
    and one the clone makes never reaches the parent."""
    from torchfusion_spark.session import scoped

    def names(s):
        return {r.tableName for r in s.sql("SHOW TABLES").collect()}

    spark.sql("CREATE OR REPLACE TEMPORARY VIEW tf_scoped_early AS SELECT 1 AS x")
    try:
        clone = scoped(spark, {})
        spark.sql("CREATE OR REPLACE TEMPORARY VIEW tf_scoped_late AS SELECT 2 AS x")
        clone.sql("CREATE OR REPLACE TEMPORARY VIEW tf_scoped_clone AS SELECT 3 AS x")
        assert clone.table("tf_scoped_early").collect()[0].x == 1
        assert "tf_scoped_late" not in names(clone)
        assert "tf_scoped_clone" not in names(spark)
        assert {"tf_scoped_early", "tf_scoped_late"} <= names(spark)
    finally:
        spark.catalog.dropTempView("tf_scoped_early")
        spark.catalog.dropTempView("tf_scoped_late")


def test_bpe_train_leaves_aqe_on_for_other_threads(spark, tables, monkeypatch):
    """``bpe_train`` runs its round loop with AQE off. Held at its first
    round, a query planned on the caller's session from another thread
    still gets an adaptive plan, and the session still reads AQE on."""
    from concurrent.futures import ThreadPoolExecutor

    from torchfusion_spark.operators import textstats

    entered, release = threading.Event(), threading.Event()
    top_sql = textstats._bpe_top_sql

    def held(rel):
        if not entered.is_set():
            entered.set()
            release.wait(120)
        return top_sql(rel)

    monkeypatch.setattr(textstats, "_bpe_top_sql", held)
    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(lambda: textstats.bpe_train(spark).collect())
        try:
            assert entered.wait(300)
            plan = _plan(spark.sql("SELECT o_orderstatus, count(*) FROM orders GROUP BY 1"))
            during = spark.conf.get(key)
        finally:
            release.set()
        merges = fut.result(timeout=300)
    assert "AdaptiveSparkPlan" in plan, plan
    assert during == "true"
    assert merges
