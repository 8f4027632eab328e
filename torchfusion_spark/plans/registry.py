"""Registry for named queries with DuckDB oracles.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` plus an optional
ANSI-SQL oracle string DuckDB runs on the same parquet views. Column
names/aliases must be identical on both sides (driver hashes values after
sorting columns by name).

Determinism discipline (so value-hashes match bitwise):
* money/quantity sums go through DECIMAL casts (exact, order-independent),
  then CAST(... AS DOUBLE) at the end;
* order-dependent float aggregates (stddev/corr/...) are rounded on both
  sides;
* every ORDER BY carries a unique tie-break key when row order feeds a
  window/limit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def fits_broadcast(spark: SparkSession, table: str, slack: float = 4.0) -> bool:
    """Whether ``table``'s optimizer size estimate (file-size derived for
    parquet scans — trustworthy, unlike join-output products) fits within
    ``slack``× the autoBroadcastJoinThreshold.

    Gates HARD ``F.broadcast`` hints on dims that grow with scale factor
    (customer/supplier/part): AQE never demotes an explicit hint, so a dim
    that is broadcast-sized at every test scale can still outgrow an
    executor at 100 TB, where a forced broadcast is an OOM, not a plan
    choice. nation/region (fixed 25/5 rows) never need the gate.

    In Spark an explicit ``F.broadcast`` hint is *independent* of
    autoBroadcastJoinThreshold, so a user who disables auto-broadcast
    (threshold -1/0) must not silently lose the curated hints: a
    non-positive threshold falls back to gating against the DEFAULT
    10 MB threshold (same ``slack``) instead of treating "disabled" as a
    ~0-byte budget (ADVICE r05). Deliberately no more permissive than
    any enabled setting — a user disabling auto-broadcast on a
    memory-tight cluster must not see *larger* forced broadcasts than
    the default config would allow.

    Memoized per (session, loaded tables, table, threshold conf): the
    answer only changes when the sf_dir or the broadcast threshold
    changes, and the stats call re-optimizes the scan."""
    raw = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
    ).lower()
    memo = spark.__dict__.setdefault("_tf_bcast_memo", {})
    key = (getattr(spark, "_tf_tables_loaded", None), table, slack, raw)
    if key in memo:
        return memo[key]
    # parse the threshold OUTSIDE the stats try-block: an unrecognized
    # byte-size suffix must fall back to the documented 10 MB default
    # explicitly, not be swallowed as 'stats unavailable' and silently
    # disable the gate (force-broadcast regardless of size)
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    num = raw[:-1] if raw.endswith("b") else raw
    mult = units.get(num[-1:], 1)
    try:
        threshold = int(num[:-1] if mult > 1 else num) * mult
    except ValueError:
        threshold = 10 * 1024 * 1024
    if threshold <= 0:
        # auto-broadcast disabled: explicit hints stay, gated as if
        # the threshold were at its 10 MB default
        threshold = 10 * 1024 * 1024
    try:
        # py4j converts the Scala BigInt to a Python int directly
        size = int(
            spark.table(table)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        memo[key] = size <= slack * threshold
    except AttributeError:
        # stats unavailable (a non-JVM-backed DataFrame has no _jdf):
        # preserve the pre-gate behavior rather than silently changing
        # plans. Anything else, a missing table included, raises.
        memo[key] = True
    return memo[key]


def bcast_dim(spark: SparkSession, df: DataFrame, base_table: str) -> DataFrame:
    """``F.broadcast(df)`` when ``base_table``'s stats prove the dim fits
    (the filtered/projected ``df`` can only be smaller); otherwise ``df``
    unhinted so AQE/Catalyst pick the co-partitioned strategy."""
    from pyspark.sql import functions as F

    return F.broadcast(df) if fits_broadcast(spark, base_table) else df


def query(name: str, oracle: str | None, doc: str = "") -> Callable[[Builder], Builder]:
    """Decorator registering a builder under ``name`` with its oracle SQL."""

    def wrap(fn: Builder) -> Builder:
        def bound(spark: SparkSession, sf_dir: str) -> DataFrame:
            from torchfusion_spark.session import configure
            from torchfusion_spark.sources import load_tables

            configure(spark)  # host session may carry Spark defaults
            load_tables(spark, sf_dir)
            return fn(spark, sf_dir)

        if name in REGISTRY:
            # a silent overwrite drops an operator from the driver surface
            # with set/length-based contract tests none the wiser
            raise ValueError(f"duplicate registry query name: {name!r}")
        REGISTRY[name] = Query(name=name, builder=bound, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return bound

    return wrap
