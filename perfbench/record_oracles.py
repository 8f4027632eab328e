"""Record the oracle's answer for every query the benchmark checks.

    python3 perfbench/record_oracles.py

Runs each query's DuckDB oracle SQL over ``perfbench/data/sf0.01`` and
writes its fingerprint (columns, row count, hash of the serialized rows;
see ``probes.fingerprint``) to ``perfbench/expected.json``, so benchmark
runs compare against it without paying DuckDB time. Re-run only when the
input tables or a checked query's oracle change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from probes import fingerprint  # noqa: E402
from run import DATA  # noqa: E402
from workloads import CORPUS, STREAMING  # noqa: E402


def main() -> None:
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    expected = {}
    for name in CORPUS + STREAMING:
        oracle = REGISTRY[name].oracle
        if oracle is None:
            raise SystemExit(f"{name} has no oracle SQL; it cannot be checked")
        expected[name] = fingerprint(con.execute(oracle).df())
        print(name, expected[name]["rows"], file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
