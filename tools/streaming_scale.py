"""Streaming scale rehearsal (VERDICT r15 item 6): the bench fixes the
streaming input at the sf0.1 events table (100k rows); this runs the six
STREAMING witnesses at each given scale (e.g. 100k / 1M / 3M events —
same schema, same replay structure, the driver's skewed rehearsal
corpora) and records per-op wall-clock, rows/sec and PEAK state-store
footprint, then derives the growth exponents: how state and wall scale
against input. A stateful op whose state grows superlinearly in input
is flagged — that is the shape that OOMs an executor at 100 TB no
matter how many nodes the input is spread over.

Each scale gets its OWN SparkSession (state partitioning and memo state
must not leak across scales). min-of-2 per op (bench methodology).

Usage: python tools/streaming_scale.py <sf_dir> [<sf_dir> ...] [--out F]
Run ALONE — nothing else beside the timing queue (r15 rule).
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_scale(sf_dir: str) -> dict:
    from bench import STREAMING

    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.session import session
    from torchfusion_spark.sources import load_tables

    spark = session(app_name=f"stream_scale_{os.path.basename(sf_dir)}")
    load_tables(spark, sf_dir)
    input_rows = spark.table("events").count()
    rec: dict = {"sf_dir": sf_dir, "input_rows": input_rows, "ops": {}}
    for name in STREAMING:
        runs = []
        state = {}
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                n = REGISTRY[name].builder(spark, sf_dir).count()
                assert n >= 0
                runs.append(time.perf_counter() - t0)
                # the runner keys state by the memory-sink name (tf_<op>)
                state = dict(
                    getattr(spark, "_tf_stream_state", {}).get(f"tf_{name}", {})
                )
            best = min(runs)
            rec["ops"][name] = {
                "wall_sec": round(best, 4),
                "cold_sec": round(runs[0], 4),
                "rows_per_sec": round(input_rows / best, 1) if best > 0 else None,
                **state,
            }
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            rec["ops"][name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    spark.stop()
    return rec


def growth(records: list[dict]) -> dict:
    """log-log slope of wall / peak-state vs input between the smallest
    and largest measured scale, per op: 1.0 = linear, >1 superlinear."""
    out: dict = {}
    if len(records) < 2:
        return out
    lo, hi = records[0], records[-1]
    r_in = hi["input_rows"] / lo["input_rows"]
    for name, h in hi["ops"].items():
        l = lo["ops"].get(name, {})
        if "error" in h or "error" in l or not l:
            continue
        row = {"input_ratio": round(r_in, 2)}
        for metric, key in [
            ("wall_exponent", "wall_sec"),
            ("peak_state_rows_exponent", "peak_state_rows"),
            ("peak_state_bytes_exponent", "peak_state_bytes"),
        ]:
            a, b = l.get(key), h.get(key)
            if a and b and a > 0 and b > 0:
                row[metric] = round(math.log(b / a) / math.log(r_in), 3)
        row["superlinear_state"] = row.get("peak_state_bytes_exponent", 0) > 1.15
        out[name] = row
    return out


def main() -> None:
    argv = sys.argv[1:]
    out = None
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        del argv[i : i + 2]
    records = []
    for d in argv:
        records.append(run_scale(d))
        # progress is salvageable if a later scale dies
        print(json.dumps(records[-1]), file=sys.stderr, flush=True)
    records.sort(key=lambda r: r["input_rows"])
    payload = {"scales": records, "growth": growth(records)}
    print(json.dumps(payload, indent=2))
    if out:
        with open(out, "w") as f:
            json.dump(payload, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    main()
