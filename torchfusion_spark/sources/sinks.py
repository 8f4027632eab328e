"""Write paths — the reference's ``INSERT INTO`` / ``COPY ... TO``
surface (SURVEY §2-C sources/sinks) expressed as Spark writers.

Parquet is the default interchange format (columnar, predicate pushdown
on re-read); CSV/JSON writers cover the export formats DataFusion's
``COPY TO`` supports. ORC is Spark-native extra. Partitioned writes are
the 100 TB layout primitive (hive-style directories → partition pruning
on read)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def copy_to(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite",
            partition_by: list[str] | None = None, **options) -> None:
    """COPY <rel> TO '<path>' (FORMAT <fmt>) equivalent."""
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def read_back(spark: SparkSession, path: str, fmt: str = "parquet", schema: str | None = None,
              **options) -> DataFrame:
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed table — the co-located-join
    layout primitive at 100 TB: two tables bucketed by the same key into
    the same bucket count join WITHOUT a shuffle on either side (Spark
    reads matching buckets pairwise), and bucket pruning serves point
    lookups. Optional per-bucket sort also removes the sort from
    sort-merge joins on re-read.

    This is the DataFusion-absent piece of the sources/sinks row that
    matters most at scale: partitioning handles low-cardinality prune
    keys, bucketing handles high-cardinality join keys. It is a layout a
    user curates for many queries; no registry query writes one, because
    a table built for one query's plan only moves that query's shuffle
    into its build.

    To get ONE file per bucket (the precondition for the reader to also
    report the per-bucket sort order), pre-``repartition(n_buckets,
    *bucket_cols)`` the input: repartition and bucketBy share the Murmur3
    hash, so each write task then holds exactly its own bucket's rows."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_train_shards(
    df: DataFrame,
    path: str,
    order_col: str,
    n_shards: int = 32,
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Training-data export: range-partition on ``order_col`` (typically
    the portable doc hash → a deterministic global shuffle of the
    corpus), sort within each shard, and bound file size so the trainer
    streams uniform shards.

    Why this shape at 100 TB: ``repartitionByRange`` samples the column
    to build balanced range bounds (no hot shard from a skewed hash
    prefix); the within-shard sort makes every output file deterministic
    for a given input; ``maxRecordsPerFile`` splits oversized shards
    into trainer-friendly files without another shuffle. One total
    shuffle — the minimum any global re-order can do."""
    writer = (
        df.repartitionByRange(n_shards, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .format(fmt)
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)
