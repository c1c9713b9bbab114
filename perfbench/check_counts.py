"""Deterministic-count check: run the traced benchmark twice with the same
seed and report every count that does not repeat exactly.

    python3 perfbench/check_counts.py --workload NAME [--seed N] [--seconds S]

Counts are the per-layer metrics measured in units of things (jobs, stages,
tasks, exchanges, posts, rows, files, bytes) and the ratios computed only
from such counts. A later claim that rests on a count needs that count to
repeat. Exits 1 when any count differs, naming each.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = ("count", "bytes", "bytes/record")
COUNT_RATIOS = ("sinks.http.batch_fill", "sinks.batching.gzip_ratio")


def is_count(name: str, unit: str) -> bool:
    return unit in COUNT_UNITS or name in COUNT_RATIOS


def traced_counts(workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True, check=True,
    )
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload}: traced run was not correct")
    return {k: m["value"] for k, m in res["metrics"].items() if is_count(k, m["unit"])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()
    a = traced_counts(args.workload, args.seed, args.seconds)
    b = traced_counts(args.workload, args.seed, args.seconds)
    unsteady = sorted(k for k in a if a[k] != b.get(k))
    for k in unsteady:
        print(f"not repeated: {k}: {a[k]} then {b.get(k)}")
    print(json.dumps({"workload": args.workload, "counts": len(a), "unsteady": unsteady}))
    return 1 if unsteady else 0


if __name__ == "__main__":
    sys.exit(main())
