"""Second relational coverage batch: recursive CTE, min_by/max_by,
LIKE/ILIKE/regex predicates, date formatting, collect_set, linear
regression aggregates, percent_rank/cume_dist, unpivot, JOIN USING,
lateral subquery, approximate aggregates (rows-only), distinct."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from torchfusion_spark.plans.registry import bcast_dim, query


@query(
    "cte_recursive",
    """
    WITH RECURSIVE r(n, fact) AS (
        SELECT 1, CAST(1 AS BIGINT)
        UNION ALL
        SELECT n + 1, fact * (n + 1) FROM r WHERE n < 12
    )
    SELECT n, fact FROM r ORDER BY n
    """,
    doc="recursive CTE (DataFusion 45 ships it; Spark 4.0 added WITH RECURSIVE)",
)
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH RECURSIVE r(n, fact) AS (
            SELECT 1, CAST(1 AS BIGINT)
            UNION ALL
            SELECT n + 1, fact * (n + 1) FROM r WHERE n < 12
        )
        SELECT n, fact FROM r ORDER BY n
        """
    )


@query(
    "agg_min_max_by",
    """
    SELECT c_nationkey,
           MAX_BY(c_name, CONCAT(LPAD(CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000 AS VARCHAR), 8, '0'), '|', c_name)) AS richest,
           MIN_BY(c_name, CONCAT(LPAD(CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000 AS VARCHAR), 8, '0'), '|', c_name)) AS poorest,
           CAST(MAX(c_acctbal) AS DOUBLE) AS top_bal
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    doc="argmax-style aggregates (min_by/max_by ↔ DataFusion first_value "
    "family). The by-key is a sortable composite (exact cents, offset "
    "non-negative, fixed-width LPAD, then name): bare max_by(c_name, "
    "c_acctbal) picks an ARBITRARY row on a balance tie — and varies "
    "with Spark's partial-agg merge order — so ties break by name on "
    "both engines deterministically (registry determinism discipline). "
    "ROUND before the BIGINT cast (ADVICE r06): double→bigint casts "
    "truncate in Spark but round in DuckDB, so an exact-cent double "
    "stored as 123.45 = 12344.999… would yield different cent keys — "
    "ROUND maps it to the same integer in both engines.",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    by_key = (
        "concat(lpad(cast(cast(round(c_acctbal * 100) as bigint) + 100000 as string), "
        "8, '0'), '|', c_name)"
    )
    return (
        spark.table("customer")
        .groupBy("c_nationkey")
        .agg(
            F.expr(f"max_by(c_name, {by_key})").alias("richest"),
            F.expr(f"min_by(c_name, {by_key})").alias("poorest"),
            F.max("c_acctbal").cast("double").alias("top_bal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "filter_like_family",
    """
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE '%widget%'
      AND p_name NOT LIKE 'small%'
      AND p_brand ILIKE 'brand#1%'
      AND regexp_matches(p_name, '^[a-z]+ [a-z]+$')
    ORDER BY p_partkey
    """,
    doc="LIKE / NOT LIKE / ILIKE / regex predicate pushdown family",
)
def filter_like_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.table("part")
    return (
        p.filter(
            F.col("p_name").like("%widget%")
            & ~F.col("p_name").like("small%")
            & F.col("p_brand").ilike("brand#1%")
            & F.col("p_name").rlike("^[a-z]+ [a-z]+$")
        )
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


@query(
    "fn_datetime_format",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           strftime(o_orderdate, '%Y/%m') AS ym,
           CAST(extract(doy FROM o_orderdate) AS INT) AS doy,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           make_date(CAST(extract(year FROM o_orderdate) AS INT), 1, 1) AS year_start,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders ORDER BY o_orderkey LIMIT 300
    """,
    doc="date formatting / construction: date_format↔strftime, last_day, "
    "make_date, unix_timestamp↔epoch",
)
def fn_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    return (
        o.select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
            F.date_format("o_orderdate", "yyyy/MM").alias("ym"),
            F.dayofyear("o_orderdate").cast("int").alias("doy"),
            F.last_day("o_orderdate").alias("month_end"),
            F.make_date(F.year("o_orderdate"), F.lit(1), F.lit(1)).alias("year_start"),
            F.unix_timestamp("o_orderdate").cast("bigint").alias("epoch_s"),
        )
        .orderBy("o_orderkey")
        .limit(300)
    )


@query(
    "agg_collect_set",
    """
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           len(list(DISTINCT l_linestatus)) AS n_statuses
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="collect_set (distinct array agg), sorted for determinism; serialized "
    "to a csv string — the driver's canonicalizer can't hash list cells",
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
            F.size(F.collect_set("l_linestatus")).cast("bigint").alias("n_statuses"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_regression",
    """
    SELECT l_returnflag,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="linear-regression aggregates (regr_* family); rounded (merge order)",
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "win_percent_cume",
    """
    SELECT o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey LIMIT 500
    """,
    doc="percent_rank / cume_dist over a global window",
)
def win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        spark.table("orders")
        .select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


@query(
    "unpivot_stack",
    """
    SELECT l_orderkey, l_linenumber, metric, CAST(val AS DOUBLE) AS val FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
    WHERE l_orderkey < 50
    ORDER BY l_orderkey, l_linenumber, metric
    """,
    doc="unpivot via stack() (oracle: UNION ALL equivalent)",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = spark.table("lineitem").filter(F.col("l_orderkey") < 50)
    return (
        l.selectExpr(
            "l_orderkey",
            "l_linenumber",
            "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (metric, val)",
        )
        .select("l_orderkey", "l_linenumber", "metric", F.col("val").cast("double").alias("val"))
        .orderBy("l_orderkey", "l_linenumber", "metric")
    )


@query(
    "join_using",
    """
    SELECT n_nationkey, n_name, r_name
    FROM (SELECT n_nationkey, n_name, n_regionkey AS rk FROM nation) n
    JOIN (SELECT r_regionkey AS rk, r_name FROM region) r USING (rk)
    ORDER BY n_nationkey
    """,
    doc="JOIN USING (shared-column equi join)",
)
def join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT n_nationkey, n_name, r_name
        FROM (SELECT n_nationkey, n_name, n_regionkey AS rk FROM nation) n
        JOIN (SELECT r_regionkey AS rk, r_name FROM region) r USING (rk)
        ORDER BY n_nationkey
        """
    )


@query(
    "lateral_subquery",
    """
    SELECT c_custkey, top_price
    FROM customer,
         LATERAL (SELECT CAST(MAX(o_totalprice) AS DOUBLE) AS top_price
                  FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    doc="LATERAL correlated subquery join",
)
def lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c_custkey, top_price
        FROM customer,
             LATERAL (SELECT CAST(MAX(o_totalprice) AS DOUBLE) AS top_price
                      FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
        """
    )


@query(
    "select_distinct",
    """
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    )


@query(
    "agg_approx",
    # The sketches themselves (HLL / KLL vs DuckDB's HLL / t-digest) can
    # never hash-match across engines, but their ERROR BOUNDS can: each
    # engine checks its own sketch against its own exact aggregate and
    # emits the exact value + a within-tolerance flag. The approx surface
    # still executes on both sides, and the result is fully hash-checked
    # (was rows-only). Tolerances: 10% on HLL distinct (Spark default
    # rsd=0.05), 5% on the percentile sketches (1000+ samples per group).
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
                <= 0.10 * COUNT(DISTINCT l_partkey) AS INT) AS parts_ok,
           CAST(ABS(approx_quantile(l_extendedprice, 0.5) - median(l_extendedprice))
                <= 0.05 * median(l_extendedprice) AS INT) AS median_ok,
           CAST(ABS(approx_quantile(l_quantity, 0.25) - quantile_cont(l_quantity, 0.25))
                <= 0.05 * quantile_cont(l_quantity, 0.75) AS INT) AS q25_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="approx_count_distinct (HLL) + approx percentile sketches — the "
    "approx_distinct/approx_percentile_cont surface (SURVEY §2-C aggregates); "
    "hash-checked via per-engine error-bound flags against exact aggregates",
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               CAST(ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
                    <= 0.10 * COUNT(DISTINCT l_partkey) AS INT) AS parts_ok,
               CAST(ABS(percentile_approx(l_extendedprice, 0.5, 1000) - percentile(l_extendedprice, 0.5))
                    <= 0.05 * percentile(l_extendedprice, 0.5) AS INT) AS median_ok,
               CAST(ABS(percentile_approx(l_quantity, 0.25, 1000) - percentile(l_quantity, 0.25))
                    <= 0.05 * percentile(l_quantity, 0.75) AS INT) AS q25_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "agg_bitwise",
    """
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS BIGINT) AS lines_and,
           CAST(bit_or(l_linenumber) AS BIGINT) AS lines_or,
           CAST(bit_xor(l_partkey) AS BIGINT) AS parts_xor
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="bitwise aggregates bit_and/bit_or/bit_xor (SURVEY §2-C aggregate "
    "family) — decomposable, so partial/final two-phase applies as usual",
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bit_and("l_linenumber").cast("bigint").alias("lines_and"),
            F.bit_or("l_linenumber").cast("bigint").alias("lines_or"),
            F.bit_xor("l_partkey").cast("bigint").alias("parts_xor"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_any_count_if",
    """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           any_value(substr(o_orderpriority, 1, 1)) AS prio_digit
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="count_if + any_value (deterministic here: the any_value argument "
    "is constant within each group, the only scale-safe way to use it)",
)
def agg_any_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 100000).cast("bigint").alias("n_big"),
            F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias("n_finished"),
            F.any_value(F.substring("o_orderpriority", 1, 1)).alias("prio_digit"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_right_outer",
    """
    SELECT o_orderkey, c_name
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey AND o_totalprice > 400000
    ORDER BY c_name, o_orderkey NULLS LAST
    """,
    doc="right outer join (with a join-side residual predicate) preserving "
    "customers without qualifying orders",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, c = spark.table("orders"), spark.table("customer")
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.o_totalprice > 400000), "right")
        .select("o_orderkey", "c_name")
        .orderBy(F.col("c_name"), F.col("o_orderkey").asc_nulls_last())
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_partkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE' AND p_size = 15
      AND s_acctbal = (
          SELECT MIN(s2.s_acctbal)
          FROM ps ps2, supplier s2, nation n2, region r2
          WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
            AND r2.r_name = 'EUROPE')
    ORDER BY p_partkey, s_name
    """,
    doc="TPC-H Q2 shape (adapted: lineitem as the part-supplier link, "
    "min-acctbal for min-supplycost): correlated scalar subquery over a "
    "multi-join — Spark plan rewrites it to a window-min over one "
    "pre-partitioned fact exchange",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plan (round 4, part filter pushed below the fact exchange in
    round 8): Catalyst inlines the ``ps`` CTE into both the outer join
    tree and the decorrelated MIN aggregate, running the 6M-row DISTINCT
    twice (6 shuffles at sf1). The correlated MIN over EUROPE suppliers
    of the same part is a window: broadcast-semi-filter lineitem by the
    p_size part list FIRST (the per-part minimum is untouched by
    dropping other parts' rows, and ~2% of parts survive p_size = 15 —
    the DISTINCT and window then run on 2% of the fact), pre-partition
    by l_partkey so the DISTINCT (l_partkey ⊆ group keys) and the window
    reuse that single exchange, and keep rows at the per-part minimum
    (ties kept, as the ``=`` subquery does). One 98%-pruned fact
    exchange total; every dim join is a broadcast — at 100 TB the
    broadcast part filter prunes at the scan. Measured 0.43→0.31s at
    sf0.1. Oracle unchanged (DuckDB runs the textbook correlated
    form)."""

    eu_supp = (
        spark.table("supplier")
        .join(
            F.broadcast(
                spark.table("nation").join(
                    F.broadcast(spark.table("region").filter(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    p = spark.table("part").filter(F.col("p_size") == 15).select("p_partkey")
    ps = (
        spark.table("lineitem")
        .select("l_partkey", "l_suppkey")
        .join(bcast_dim(spark, p, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey")
        .repartition(F.col("l_partkey"))
        .distinct()
    )
    w = W.partitionBy("l_partkey")
    best = (
        ps.join(bcast_dim(spark, eu_supp, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
    )
    return (
        best.select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
        .orderBy("p_partkey", "s_name")
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l_shipdate) AS l_year,
               CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: 6-way join with disjunctive nation-pair predicate, "
    "year extraction, decimal-exact volume aggregation",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(volume) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(YEAR FROM l_shipdate) AS l_year,
                   CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
        """
    )


@query(
    "q12_priority_by_status",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey AND l_quantity > 30
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shape (adapted: no l_shipmode in the driver schema — "
    "l_linestatus groups): join + conditional CASE aggregation",
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        spark.table("orders")
        .join(spark.table("lineitem"), F.expr("o_orderkey = l_orderkey"))
        .filter(F.col("l_quantity") > 30)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q21_waiting_supplier",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21 shape (adapted: returnflag for the late-delivery flag): "
    "EXISTS + NOT EXISTS self-joins on the fact, rewritten on Spark to "
    "per-order supplier counts over a single fact shuffle",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plan: the textbook EXISTS + NOT EXISTS pair decorrelates
    into left-semi + left-anti self-joins — three lineitem passes and
    SortMergeJoins at scale (observed at sf1). Both predicates are
    per-order supplier counts: EXISTS(other supplier) ⇔ n_supp > 1, NOT
    EXISTS(other 'R' supplier) ⇔ this supplier is the order's ONLY 'R'
    supplier ⇔ n_r_supp = 1 (given it has 'R' rows). So the fact's
    3-column projection is shuffled ONCE on l_orderkey, and both
    rollups run exchange-free over that partitioning
    (HashPartitioning(orderkey) satisfies the (orderkey, suppkey)
    clustered requirement too): the per-(orderkey, suppkey) 'R'-row
    count, then per order n_supp = COUNT(*), n_r_supp = COUNT(r_rows >
    0) and the sole R supplier as MAX(CASE WHEN r_rows > 0 THEN suppkey
    END), exact when n_r_supp = 1, the only band the filter keeps. No
    window, no sort. Survivors then join status-'F' orders and the
    broadcast nation-filtered supplier dim. numwait sums the survivor's
    'R'-row counts, which is exactly COUNT(*) of qualifying l1 rows.
    TPC-H keys are NOT NULL by spec, so the NULL-suppkey asymmetry
    between COUNT(*) and the original <>-correlated EXISTS cannot bite.
    Oracle unchanged (DuckDB runs the textbook correlated form)."""
    per_os = (
        spark.table("lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("r_rows"))
    )
    sole_r = (
        per_os.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.count(F.when(F.col("r_rows") > 0, 1)).alias("n_r_supp"),
            F.max(F.when(F.col("r_rows") > 0, F.col("l_suppkey"))).alias("l_suppkey"),
            F.sum(F.when(F.col("r_rows") > 0, F.col("r_rows"))).alias("r_rows"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
        .select("l_orderkey", "l_suppkey", "r_rows")
    )
    o = spark.table("orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = (
        spark.table("supplier")
        .join(
            F.broadcast(
                spark.table("nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        sole_r.join(o, sole_r.l_orderkey == o.o_orderkey)
        .join(bcast_dim(spark, s, "supplier"), sole_r.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("r_rows").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@query(
    "events_rollup_two_level",
    """
    WITH minute_agg AS (
        SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS minute_start,
               event_type, COUNT(*) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
        FROM events GROUP BY 1, 2)
    SELECT make_timestamp((epoch_us(minute_start) // 3600000000) * 3600000000) AS hour_start,
           event_type, CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(value_cents) AS DOUBLE) / 100 AS total_value
    FROM minute_agg
    GROUP BY 1, 2 ORDER BY hour_start, event_type
    """,
    doc="hypertable-style two-level rollup: hourly aggregate computed FROM "
    "the per-minute partial aggregates (sum-of-sums/sum-of-counts) — the "
    "incremental continuous-aggregate pattern; integer cents for exactness",
)
def events_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    minute = (
        spark.table("events")
        .groupBy(
            # floor, not cast-truncate: matches the oracle's // on
            # pre-1970 timestamps (same fix as fn_time_bucket)
            F.timestamp_micros(F.floor(F.unix_micros("ts") / 60_000_000) * 60_000_000).alias(
                "minute_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )
    return (
        minute.groupBy(
            F.timestamp_micros(
                F.floor(F.unix_micros("minute_start") / 3_600_000_000) * 3_600_000_000
            ).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            (F.sum("value_cents").cast("double") / 100).alias("total_value"),
        )
        .orderBy("hour_start", "event_type")
    )


@query(
    "win_range_interval_frame",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS hour_cents
    FROM events ORDER BY user_id, event_id
    """,
    doc="time-interval RANGE frame: per-user trailing 1-hour rolling sum "
    "over event time (the time-series moving aggregate; RANGE peers make "
    "equal timestamps order-independent, cents keep the sum exact)",
)
def win_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT user_id, event_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS hour_cents
        FROM events ORDER BY user_id, event_id
        """
    )


@query(
    "win_groups_frame_rewrite",
    """
    WITH r AS (
        SELECT user_id, ts, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
               DENSE_RANK() OVER (PARTITION BY user_id ORDER BY ts) AS dr
        FROM events),
    g AS (SELECT user_id, dr, SUM(cents) AS gsum FROM r GROUP BY user_id, dr)
    SELECT r.user_id, r.event_id, CAST(SUM(g.gsum) AS BIGINT) AS grp_cents
    FROM r JOIN g ON g.user_id = r.user_id AND g.dr BETWEEN r.dr - 1 AND r.dr
    GROUP BY r.user_id, r.event_id
    ORDER BY r.user_id, r.event_id
    """,
    doc="GROUPS window frame (`GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW`) "
    "— DataFusion supports it, Spark does not (neither does DuckDB: parser "
    "'not implemented yet'). Spark side runs the documented rewrite — "
    "DENSE_RANK over the ORDER BY key, then a numeric RANGE frame over the "
    "rank (rank peers ARE the groups); the oracle computes the same "
    "semantics via an independent formulation (per-group sums + band join), "
    "so a hash match proves the rewrite, not a shared transcription "
    "(README 'Known engine differences').",
)
def win_groups_frame_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH r AS (
            SELECT user_id, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   DENSE_RANK() OVER (PARTITION BY user_id ORDER BY ts) AS dr
            FROM events)
        SELECT user_id, event_id,
               CAST(SUM(cents) OVER (
                   PARTITION BY user_id ORDER BY dr
                   RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS grp_cents
        FROM r ORDER BY user_id, event_id
        """
    )
