"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --runs 10 [--workload loop ...]

Runs ``perfbench/run.py`` once per seed (1..runs) for each workload,
from the root of a checkout, and prints for every end-to-end metric
its median and its spread: the distance between the first and third
quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the bound BENCHMARK.json fixes. The last line is the
whole table as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    table: dict = {}
    for w in workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            proc = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            lines = proc.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            summary = json.loads(lines[-2])
            for m in bounds:
                values[m].append(out["metrics"][m]["value"])
            print(
                w, seed, out["correct"], out["attempted"], out["failed"],
                summary["loadavg_start"][0], summary["loadavg_end"][0],
                summary["steal_share"],
                {m: round(v[-1], 4) for m, v in values.items()},
                flush=True,
            )
        table[w] = {}
        for m, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            table[w][m] = {
                "median": med,
                "spread": (q3 - q1) / med,
                "bound": bounds[m],
                "values": vals,
            }
            print(f"  {w:10s} {m:14s} median {med:12.4f} "
                  f"spread {(q3 - q1) / med:6.3f} bound {bounds[m]}")
    print(json.dumps(table))
    return 0


if __name__ == "__main__":
    sys.exit(main())
