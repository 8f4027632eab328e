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

from pyspark.sql import SparkSession

from torchfusion_spark import config as tf_config


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
    :func:`session` and :func:`tune_runtime`. The parquet-timestamp
    vintage confs come from sources' shared spelling."""
    from torchfusion_spark.sources import _TS_NORMALIZE_CONFS

    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # unfiltered MIN/MAX/COUNT answered from parquet footer statistics
        "spark.sql.parquet.aggregatePushdown": "true",
        # both testdata timestamp vintages → TIMESTAMP (see sources.read_table)
        **_TS_NORMALIZE_CONFS,
    }


def session(
    app_name: str = "torchfusion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults applied."""
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
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine setup to an existing session (e.g. the driver's).

    Equivalent of the tail of ``configure_context`` (reference
    src/lib.rs:121-134): seed the ``torchfusion.*`` namespace and register
    the function library (argmax & friends).
    """
    from torchfusion_spark.functions import register_all

    tf_config.seed_defaults(spark)
    register_all(spark)
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing session.

    A host session we didn't build (the correctness driver's, a notebook's)
    carries Spark defaults: 200 shuffle partitions (200-task exchanges for
    kB-sized gate inputs), no parquet aggregate pushdown. Everything set
    here is runtime-mutable (no restart needed); session-level settings
    like driver memory can only be applied by :func:`session`. Memoized —
    every registry builder routes through here.
    """
    if getattr(spark, "_tf_runtime_tuned", False):
        return spark
    for k, v in _runtime_confs(default_parallelism()).items():
        spark.conf.set(k, v)
    spark._tf_runtime_tuned = True
    return spark
