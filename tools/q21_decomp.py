"""q21 residual-ratio decomposition (VERDICT r15 item 3a): is the >2x
gap engine constant-factor, or a plan defect?

Times, on IDENTICAL data, each layer of the q21 stack:

- ``spark_scan`` / ``duck_scan``   — column-sum scan of the SAME staged
  per-(orderkey, suppkey) parquet files (pure read path)
- ``spark_rollup`` / ``duck_rollup`` — the order-level aggregation
  (sole_r: 4 aggregate functions into ~|orders| groups) over those same
  files — the dominant query-time operator
- ``spark_q21`` — the registered query (staged, exchange-free)
- ``duck_q21``  — the textbook correlated EXISTS oracle over raw
  lineitem (what the rehearsal ratio is measured against)

If spark_rollup/duck_rollup ~ spark_q21/duck_q21 while the plans carry
zero exchanges, the residual is the engines' hash-aggregation constant
factor on identical input — the documented scan-bound proof. Each
number is min over ``runs`` warm repetitions (bench methodology).

Usage: python tools/q21_decomp.py <sf_dir> [runs] [out.json]
Run ALONE — nothing else beside the timing queue (r15 rule).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _t(fn, runs):
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    sf_dir = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    out = sys.argv[3] if len(sys.argv) > 3 else None

    import duckdb

    from torchfusion_spark import session
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.sources import load_tables
    from torchfusion_spark.staging import stage

    spark = session()
    load_tables(spark, sf_dir)
    t0 = time.perf_counter()
    rel = stage(spark, "li_by_order")
    stage_sec = round(time.perf_counter() - t0, 4)
    path = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {rel}")
        .filter("col_name = 'Location'")
        .first()
        .data_type.removeprefix("file:")
    )

    from pyspark.sql import functions as F

    rollup = (
        spark.table(rel)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.count(F.when(F.col("r_rows") > 0, 1)).alias("n_r_supp"),
            F.max(F.when(F.col("r_rows") > 0, F.col("l_suppkey"))).alias("sole"),
            F.sum(F.when(F.col("r_rows") > 0, F.col("r_rows"))).alias("r_rows"),
        )
    )
    res = {
        "sf_dir": sf_dir,
        "runs_min_of": runs,
        "staged_rows": spark.table(rel).count(),
        "stage_sec": stage_sec,
        "spark_scan": _t(
            lambda: spark.table(rel).agg(F.sum("l_suppkey"), F.sum("r_rows")).collect(),
            runs,
        ),
        "spark_rollup": _t(
            lambda: rollup.agg(
                F.sum("n_supp"), F.sum("n_r_supp"), F.sum("sole"), F.sum("r_rows")
            ).collect(),
            runs,
        ),
        "spark_q21": _t(
            lambda: REGISTRY["q21_waiting_supplier"].builder(spark, sf_dir).collect(),
            runs,
        ),
    }
    # the no-exchange witness: the rollup's executed plan must carry zero
    # Exchange nodes (the bucketed read satisfies the distribution)
    plan = rollup._jdf.queryExecution().executedPlan().toString()
    res["rollup_exchanges"] = plan.count("Exchange")

    duck = duckdb.connect()
    duck.execute(f"SET threads TO {os.cpu_count()}")
    for t in ["lineitem", "orders", "supplier", "nation"]:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    duck.execute(
        f"CREATE VIEW li_osr AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    res["duck_scan"] = _t(
        lambda: duck.execute("SELECT SUM(l_suppkey), SUM(r_rows) FROM li_osr").fetchall(),
        runs,
    )
    res["duck_rollup"] = _t(
        lambda: duck.execute(
            """
            SELECT SUM(n_supp), SUM(n_r_supp), SUM(sole), SUM(r) FROM (
              SELECT l_orderkey, COUNT(*) AS n_supp,
                     COUNT(CASE WHEN r_rows > 0 THEN 1 END) AS n_r_supp,
                     MAX(CASE WHEN r_rows > 0 THEN l_suppkey END) AS sole,
                     SUM(CASE WHEN r_rows > 0 THEN r_rows END) AS r
              FROM li_osr GROUP BY l_orderkey)
            """
        ).fetchall(),
        runs,
    )
    res["duck_q21"] = _t(
        lambda: duck.execute(REGISTRY["q21_waiting_supplier"].oracle).fetchall(),
        runs,
    )
    res["ratio_q21"] = round(res["spark_q21"] / res["duck_q21"], 3)
    res["ratio_rollup"] = round(res["spark_rollup"] / res["duck_rollup"], 3)
    res["ratio_scan"] = round(res["spark_scan"] / res["duck_scan"], 3)
    print(json.dumps(res, indent=2))
    if out:
        with open(out, "w") as f:
            json.dump(res, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
