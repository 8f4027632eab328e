"""Sources: table registration over the driver-generated parquet layout,
plus object-store (S3A) session wiring.

The reference registers tables via ``CREATE EXTERNAL TABLE ... STORED AS
PARQUET LOCATION ...`` (src/lib.rs:148-150) and object stores via the
runtime env (src/lib.rs:203-216). Spark-side: ``spark.read.parquet`` +
temp views, and Hadoop S3A confs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The driver's parquet has shipped timestamps in two vintages:
#   1. INT64 TIMESTAMP(NANOS) — Spark's vectorized reader rejects it, so we
#      read nanos as long (spark.sql.legacy.parquet.nanosAsLong) and rebuild
#      microsecond timestamps: the same ns→µs truncation DuckDB applies.
#   2. plain microsecond timestamp[us] with no timezone — Spark 4 infers
#      TIMESTAMP_NTZ, which `unix_micros()` and friends reject at analysis
#      time. We disable NTZ inference so the scan emits TIMESTAMP directly
#      (interpreted as UTC under the UTC session timezone — the same
#      naive-as-UTC reading DuckDB uses), with an NTZ→TIMESTAMP cast as a
#      belt-and-braces fallback for pre-read sessions.
# Both normalizations are column-generic (any ts column in any table), so a
# testdata regeneration can't silently break a subset of tables again
# (round-2 postmortem; format-drift canary in tests/test_sources_format.py).
# session.configure applies both confs and the UTC time zone once.


def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer — read as
    bigint under ``nanosAsLong`` and rebuilt to µs. Footer-sniffed per
    file (driver-side metadata read, no data), NOT a hard-coded
    (table, column) allowlist: a regeneration that ships a nanos column
    in a new table or under a new name is normalized the same way —
    the round-2 'subset of tables silently broke' class can't recur."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .arrow_ipc import _first_with_suffix

    try:
        # spark.read.parquet accepts a DIRECTORY of part files; pyarrow's
        # read_schema does not. Sniff the first part file's footer in that
        # case — swallowing the failure and returning () would leave any
        # TIMESTAMP(NANOS) column as bigint, the exact silent-vintage-break
        # class this function exists to prevent (ADVICE r06).
        target = _first_with_suffix(path, ".parquet") if os.path.isdir(path) else path
        schema = pq.read_schema(target)
    except (OSError, pa.ArrowException):  # let spark.read surface the real error
        return ()
    return tuple(
        f.name for f in schema if str(f.type) in ("timestamp[ns]", "timestamp[ns, tz=UTC]")
    )


def nanos_to_timestamp(col: str):
    """Rebuild an INT64-nanos column (read as bigint under
    ``nanosAsLong``) into a microsecond TIMESTAMP. Integer div: double
    division would lose precision on ~1e18 ns values. ONE spelling shared
    by the batch reader and the streaming source so a vintage fix cannot
    land in only one of them (round-2 postmortem class)."""
    return F.timestamp_micros(F.expr(f"`{col}` div 1000"))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet table, every timestamp column as TIMESTAMP, under confs
    ``configure`` applies once: a later user ``SET`` wins (a non-UTC time
    zone shifts timestamps against the oracle's naive-as-UTC reading)."""
    from torchfusion_spark.session import configure

    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in _nanos_ts_columns(path):
        if c in df.columns and dtypes[c] == "bigint":
            df = df.withColumn(c, nanos_to_timestamp(c))
    for c, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each parquet table as a temp view named after the table.

    Views are lazy, but registering one is not free: each
    ``spark.read.parquet`` runs a schema-inference Spark job (job 0 of a
    fresh session takes 0.42 s cold, a second read 0.04 s, on a 4-core
    host). Catalyst prunes columns/filters per query, so this is
    scale-safe.
    Timestamps read as UTC under the session's configured time zone (see
    :func:`read_table`; no re-pin here, so a later user ``SET`` wins).

    Memoized per (session, dir): every registry query calls this, and
    re-registering identical views each time re-runs those jobs and
    invalidates cached plans for nothing.
    """
    gen = getattr(spark, "_tf_tables_gen", 0)
    key = (sf_dir, tables, gen)
    if getattr(spark, "_tf_tables_loaded", None) == key:
        return
    # invalidate BEFORE registering: a mid-loop failure (missing/corrupt
    # file in the new dir) must not leave the memo claiming the previous
    # dir is fully loaded while the views are mixed across dirs — a
    # caught-and-retried load would then memo-hit and silently join
    # half-new against half-old tables
    spark._tf_tables_loaded = None
    for name in tables:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    # Registration GENERATION in the key: createOrReplaceTempView
    # invalidates every cached plan that references the replaced view
    # (Spark's cache manager), so any staged relation built over the
    # tables (shingles, signatures, norms, …) silently loses its cache
    # whenever the views are actually re-registered. The staging
    # registry keys its table roots on _tf_tables_loaded — bumping the
    # generation here gives them a new identity after every real
    # re-registration, forcing re-staging instead of running plans that
    # inline the whole pipeline over an uncached view (plan-audit
    # shuffle-count blowup).
    spark._tf_tables_gen = gen + 1
    spark._tf_tables_loaded = (sf_dir, tables, gen + 1)


def configure_s3(
    spark: SparkSession,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
) -> None:
    """Wire S3A so ``s3a://bucket/...`` table paths resolve — the analogue of
    the reference's object-store registration test (src/lib.rs:203-216).
    Requires the hadoop-aws jars on the classpath at deploy time."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if endpoint:
        conf.set("fs.s3a.endpoint", endpoint)
    if access_key:
        conf.set("fs.s3a.access.key", access_key)
    if secret_key:
        conf.set("fs.s3a.secret.key", secret_key)
    conf.set("fs.s3a.path.style.access", "true" if path_style else "false")
