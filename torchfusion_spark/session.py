"""Session factory — the Spark analogue of the reference's
``configure_context()`` (reference src/lib.rs:118-137): information_schema
on, config extension registered, default engine features, function factory
installed, ``argmax`` pre-registered.

Designed for cluster scale even though tests run local: AQE (runtime
re-planning + skew-join), Arrow-batched Python exchange, UTC session time,
shuffle parallelism sized from the environment instead of the 200 default.

Nothing is staged here: ``torchfusion_spark.staging`` owns every staged
relation and every checkpoint, the iterative loops' included.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

from torchfusion_spark import config as tf_config


# held while configure() applies the runtime confs and for an override's
# whole body: overrides nest in one thread and take turns across threads
_CONF_LOCK = threading.RLock()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def cpu_fanout(df, rows_per_task: int = 128):
    """Repartition a (possibly single-split) input for CPU-bound per-row
    work: width = clamp(rows / rows_per_task, 1, default_parallelism()).

    A local single-file parquet arrives as ONE split, serializing every
    downstream Python/codegen-heavy pass onto one core — but blindly
    fanning a few hundred rows to 32 partitions costs more in task launch
    and Python-worker spawn than the work itself. The row count is a
    metadata-cheap action on columnar sources; at cluster scale the width
    saturates at full parallelism and this is a no-op-sized rebalance."""
    n = df.count()
    width = max(1, min(default_parallelism(), -(-n // rows_per_task)))
    return df.repartition(width)


def _runtime_confs(shuffle_partitions: int) -> dict[str, str]:
    """The engine's runtime-settable SQL confs: ONE spelling for
    :func:`session` (as builder options) and :func:`configure`."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # unfiltered MIN/MAX/COUNT answered from parquet footer statistics
        "spark.sql.parquet.aggregatePushdown": "true",
        # both testdata timestamp vintages → TIMESTAMP (see sources)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }


def session(
    app_name: str = "torchfusion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults applied;
    ``shuffle_partitions`` and ``extra_conf`` hold for its life."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # driver-only settings: they cannot change on a running session
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # pyspark's daemon, minus re-reading pyspark.zip and the spark-core
        # jar on every task (see worker_daemon)
        .config("spark.python.daemon.module", "torchfusion_spark.worker_daemon")
    )
    for k, v in {**_runtime_confs(shuffle_partitions or cpus), **(extra_conf or {})}.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return _configure(spark, {})  # the builder applied the runtime confs


def configure(spark: SparkSession) -> SparkSession:
    """The one engine set-up of any session (``configure_context``,
    reference src/lib.rs:118-137); every engine entry point calls it.
    Once per session object: apply the runtime confs over a host
    session's Spark defaults and register the function library. On every
    call: seed the missing ``torchfusion.*`` keys. So a later user ``SET``
    wins; driver-only settings only :func:`session` can apply."""
    return _configure(spark, _runtime_confs(default_parallelism()))


def _configure(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    from torchfusion_spark.functions import register_all

    if not getattr(spark, "_tf_configured", False):
        with _CONF_LOCK:
            if not getattr(spark, "_tf_configured", False):
                for k, v in confs.items():
                    spark.conf.set(k, v)
                register_all(spark)
                spark._tf_configured = True
    tf_config.seed_defaults(spark)
    return spark


def scoped(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A configured clone of ``spark`` with ``confs`` set on it: queries
    planned on the clone see them, the parent and every other thread's
    queries never do. The clone shares the parent's SparkContext, cache
    and registered functions. It copies the parent's temp views at its
    first catalog use, which is made here: a view the parent makes after
    this call is not visible in the clone, and a view the clone makes is
    never visible in the parent. Streams stay on the parent: a listener
    on the parent hears nothing from a stream started on a clone."""
    from pyspark.sql.session import _monkey_patch_RDD

    clone = SparkSession(spark.sparkContext, jsparkSession=spark._jsparkSession.cloneSession())
    # constructing a session rebinds RDD.toDF to it; keep it on the parent
    _monkey_patch_RDD(spark)
    for k, v in confs.items():
        clone.conf.set(k, v)
    clone.catalog.currentDatabase()  # the first catalog use: temp views copied now
    clone._tf_configured = True
    return clone


@contextmanager
def overriding(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for the body, then restore each key's old value or
    unset a key that had none, raised or not. Session-wide: a query
    another thread plans meanwhile sees them too, so a query-scoped
    setting goes through :func:`scoped`. A stream runs on a clone of the
    session taken at ``start()``, so an override around ``start()`` pins
    its confs for the whole run."""
    with _CONF_LOCK:
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
