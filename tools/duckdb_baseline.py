"""Record the DuckDB single-node baseline for the headline queries.

The reference publishes no benchmark numbers (BASELINE.md), so "within 2×
of baseline" needs a measured stand-in: DuckDB running each headline
query's own oracle SQL on the same parquet at the same scale factor —
the same engine the correctness gate trusts, timed on the same box.

Writes BASELINE_DUCKDB.json ({query: sec, ...} + metadata); bench.py
picks it up (if present and same sf) and prints the spark/duckdb ratio
alongside the timings, so regressions are visible per round.

Usage: python tools/duckdb_baseline.py [sf_dir] [runs]
Set BASELINE_DUCKDB_OUT to write somewhere other than the repo-root
BASELINE_DUCKDB.json (e.g. for the sf1 rehearsal, which must not clobber
the sf0.1 file bench.py compares against).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_local import duck_connection  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = max(1, int(sys.argv[2])) if len(sys.argv) > 2 else 3
    # optional name filter: re-measure ONLY the queries whose oracle SQL
    # changed, without paying the full sweep
    only = set(sys.argv[3:]) or None

    from bench import HEADLINE, parse_sf
    from torchfusion_spark.plans import REGISTRY

    sf = parse_sf(sf_dir)
    con = duck_connection(sf_dir)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        if only is not None and name not in only:
            continue
        # per-query fault isolation, same as bench.py (round-2 postmortem):
        # one rejected oracle or stale HEADLINE name must cost one row, not
        # abort the run after minutes of collected timings
        try:
            q = REGISTRY[name]
            if q.oracle is None:
                continue  # not SQL-expressible (model inference) — no oracle to time
            con.execute(q.oracle).fetchall()  # warm (buffer pool, plan cache)
            best = min(_timed(con, q.oracle) for _ in range(runs))
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"{name:32s} FAILED {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(best, 4)
        print(f"{name:32s} {best:7.3f}s", file=sys.stderr)

    out = {
        "engine": "duckdb",
        "sf": sf,
        "runs": runs,
        "total_sec": round(sum(timings.values()), 4),
        "queries": timings,
        **({"errors": errors} if errors else {}),
    }
    out_path = os.environ.get(
        "BASELINE_DUCKDB_OUT",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BASELINE_DUCKDB.json"
        ),
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


def _timed(con, sql: str) -> float:
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
