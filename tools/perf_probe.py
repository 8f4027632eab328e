"""Per-query perf probe: a thin CLI over ``torchfusion_spark.measure``.

Times registry queries with the bench's action (builder plus
``measure``, which fetches the full result with ``toArrow()``), best of N,
and prints each run's wall time and Spark jobs. ``--plans-dir`` writes the
last run's operator tree (rows, time and bytes for each operator, as
``EXPLAIN ANALYZE`` prints it) to ``<dir>/<query>_<suffix>.txt``.

Usage:
  python tools/perf_probe.py [--sf SF_DIR] [--runs N] [--prewarm]
                             [--plans-dir DIR --suffix before]
                             query [query ...]
  python tools/perf_probe.py --headline          # the whole bench set

Unlike bench.py this does NOT prewarm staging by default (pass
--prewarm to replicate the bench's staged-relation prewarm), so a cold
first run shows exactly which staged builds a query triggers.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans-dir", default=None, help="write the analyzed operator tree here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--prewarm", action="store_true", help="run the bench's staging prewarm first")
    args = ap.parse_args()

    from torchfusion_spark.measure import measure, render
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.session import session
    from torchfusion_spark.sources import load_tables

    spark = session(app_name="torchfusion_perf_probe")
    names = list(args.queries)
    if args.headline:
        import bench

        names = bench.HEADLINE + names
    load_tables(spark, args.sf)
    if args.prewarm:
        from torchfusion_spark.staging import prewarm_staging

        t0 = time.perf_counter()
        prewarm_staging(spark)
        print(f"prewarm: {time.perf_counter() - t0:.3f}s", flush=True)

    best_sum = 0.0
    for name in names:
        runs, jobs = [], []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = REGISTRY[name].builder(spark, args.sf)
            build = time.perf_counter() - t0
            _, wall, counts, operators = measure(df)
            runs.append(build + wall)
            jobs.append(counts["jobs"])
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(render(operators) + "\n")
        best_sum += min(runs)
        print(
            f"{min(runs):8.3f}  "
            + " ".join(f"{r:7.3f}" for r in runs)
            + f"  jobs={'/'.join(str(j) for j in jobs)}  {name}",
            flush=True,
        )

    print("\nbest-of-N sum:", round(best_sum, 3))
    spark.stop()


if __name__ == "__main__":
    main()
