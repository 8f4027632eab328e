"""Local stand-in for the driver's correctness gate — driver-faithful.

Runs every REGISTRY query on Spark and its DuckDB oracle on the same
parquet, then compares exactly the way the driver's hash does:

  1. reindex columns sorted by name,
  2. sort rows lexicographically on the stringified frame,
  3. compare the *serialized string values* cell-by-cell — NO numeric
     fallback.  ``42`` (BIGINT) vs ``42.0`` (DOUBLE) is a FAIL here, just
     as it hash-mismatches at the driver (round-1 lesson: the old
     ``pd.to_numeric`` delta==0 fallback masked exactly that class).

It also refuses complex-typed output columns (list/dict/ndarray values):
the driver's pandas canonicalizer crashes on them ("unhashable type"),
so locally they are a hard FAIL with a distinct message.

A numeric max-abs-delta is still *printed* on failing float columns, but
purely as a diagnostic after the failure is recorded.

Usage: python tools/verify_local.py [sf_dir] [query ...] [--trace]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


_COMPLEX = (list, dict, set, tuple)


def complex_columns(df: pd.DataFrame) -> list[str]:
    """Columns holding values the driver's canonicalizer cannot sort/hash."""
    bad = []
    for c in df.columns:
        col = df[c].dropna()
        if len(col) and col.map(
            lambda v: isinstance(v, _COMPLEX) or type(v).__name__ == "ndarray"
        ).any():
            bad.append(c)
    return bad


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's _canon: sorted columns, rows sorted on str form."""
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
    if problems:
        return problems
    sp_bad = complex_columns(spark_pdf)
    bad = sp_bad + [c for c in complex_columns(duck_pdf) if c not in sp_bad]
    if bad:
        return [
            f"complex-typed column(s) {bad} would crash the driver canonicalizer "
            "(unhashable type) — serialize with to_json/array_join on both dialects"
        ]
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c].astype(str), d[c].astype(str)
        if (sv == dv).all():
            continue
        mism = sv != dv
        i = int(mism.idxmax())
        msg = f"col {c}: serialized mismatch e.g. row {i}: {sv[i]!r} vs {dv[i]!r}"
        if str(s[c].dtype) != str(d[c].dtype):
            msg += f" (dtype spark={s[c].dtype} duck={d[c].dtype})"
        else:
            # diagnostic only — the failure above stands regardless
            try:
                delta = (
                    (pd.to_numeric(s[c], errors="raise") - pd.to_numeric(d[c], errors="raise"))
                    .abs()
                    .max()
                )
                msg += f" (diag max_abs_delta={float(delta):.3e})"
            except Exception:
                pass
        problems.append(msg)
    return problems


def _driver_order_items():
    """Dress rehearsal of the exact driver flow: the prefixed keys from
    ``__spark_entry__.queries()`` in priority order, on a PLAIN local
    session (Spark-default confs, like the driver's own) — exercises the
    c-prefix mapping, the builders' ``configure`` of a host session, and
    staging memoization in the order the driver will actually run."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    from torchfusion_spark.plans import REGISTRY, Query

    items = []
    for key, builder in entry.queries().items():
        q = REGISTRY[key.split("_", 1)[1]]
        items.append((key, Query(name=key, builder=builder, oracle=q.oracle, doc=q.doc)))
    return items


def main() -> int:
    # sf_dir is optional even when flags are given: a leading --flag must
    # not be consumed as the directory
    positional = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = positional[0] if positional else "/root/testdata/sf0.01"
    only = set(positional[1:])
    timed = "--time" in sys.argv
    driver_order = "--driver-order" in sys.argv

    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.session import session

    if driver_order:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("verify_driver_rehearsal")
            .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        items = _driver_order_items()
    else:
        spark = session(app_name="verify_local")
        items = sorted(REGISTRY.items())
    con = duck_connection(sf_dir)

    passed, rows_only, failed = [], [], []
    timings: dict[str, float] = {}
    for name, q in items:
        # --driver-order keys carry the c{rank}_ prefix; accept either form
        canonical = name.split("_", 1)[1] if driver_order and "_" in name else name
        if only and name not in only and canonical not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = q.builder(spark, sf_dir)
            spdf = sdf.toPandas()
            if q.oracle is None:
                bad = complex_columns(spdf)
                if bad:
                    failed.append(name)
                    print(f"FAIL {name}: rows-only but complex-typed column(s) {bad}")
                else:
                    rows_only.append(name)
                    print(f"ROWS-ONLY {name}: {len(spdf)} rows")
                timings[name] = time.monotonic() - t0
                continue
            dpdf = con.execute(q.oracle).df()
            problems = compare(name, spdf, dpdf)
            if problems:
                failed.append(name)
                print(f"FAIL {name}: " + "; ".join(problems))
            else:
                passed.append(name)
                print(f"PASS {name} ({len(spdf)} rows)")
        except Exception as e:
            failed.append(name)
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
            if "--trace" in sys.argv:
                traceback.print_exc()
        timings[name] = time.monotonic() - t0
    print(f"\n== {len(passed)} passed, {len(rows_only)} rows-only, {len(failed)} failed ==")
    if failed:
        print("failed:", " ".join(failed))
    if timed:
        print("\nslowest queries:")
        for n, t in sorted(timings.items(), key=lambda kv: -kv[1])[:25]:
            print(f"  {t:7.2f}s  {n}")
        print(f"  total: {sum(timings.values()):.1f}s over {len(timings)} queries")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
