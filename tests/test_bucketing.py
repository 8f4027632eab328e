"""Bucketed-table co-located join: the 100 TB layout primitive. Writing
both sides bucketed by the join key into the same bucket count must let
Spark join them with ZERO shuffle exchanges (bucket-pairwise reads), and
the result must match the plain join."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _executed_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, tables):
    from torchfusion_spark.sources.sinks import write_bucketed

    write_bucketed(
        spark.table("orders").select("o_orderkey", "o_orderpriority"),
        "b_orders", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"],
    )
    write_bucketed(
        spark.table("lineitem").select("l_orderkey", "l_quantity"),
        "b_lineitem", ["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"],
    )
    # force the shuffle-visible SMJ path: broadcast would also avoid a
    # shuffle but wouldn't prove the bucketing co-location
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"), F.expr("l_orderkey = o_orderkey")
        )
        plan = _executed_plan(j)
        assert "Exchange" not in plan, plan
        n_bucketed = j.count()

    plain = spark.table("lineitem").join(
        spark.table("orders"), F.expr("l_orderkey = o_orderkey")
    )
    assert n_bucketed == plain.count()

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")

