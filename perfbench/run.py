"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository: the engine is
imported from the working directory, and work files go to
``.perfbench_work/`` there. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; with ``--trace 0`` the metrics are the end-to-end ones
named in BENCHMARK.json, with ``--trace 1`` the per-layer ones. The
line before it is a summary: the same end-to-end numbers, what failed,
and the host's contention during the run (load average at start and
end, core count, and the share of CPU time the hypervisor stole).

End-to-end metrics (an operation is a ``/query`` on ``dashboard`` and a
collector tick on ``loop``; a pass sends the workload's fixed list of
operations, 45 panel refreshes or one 10-tick schedule cycle):

- ``setup_s``: session start plus the median of three repetitions of
  the workload's set-up (``dashboard`` writes its table once first);
- ``p50_ms`` / ``p90_ms``: percentiles over the operations of a pass
  of each operation's lowest latency across the run's passes, which
  keeps bursts of hypervisor steal out of the figure;
- ``cpu_ms_per_op``: CPU of the driver, the JVM and the Python workers
  per operation over the whole run (on ``loop``, not counting the
  read-back);
- ``pass_s``: wall time of the quickest pass (on ``loop``, ticks and
  their read-backs).

``--seconds`` sets how many whole passes a run makes, from each
workload's nominal pass length, so every run does the same work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark package
sys.path.insert(0, os.getcwd())  # the engine under test

WORKLOADS = ("dashboard", "loop")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size",
        choices=("full", "tiny"),
        default="full",
        help="tiny shrinks every input, for the benchmark's own tests",
    )
    args = ap.parse_args(argv)

    try:
        import timeseries_data_provider_spark  # noqa: F401
    except ImportError as exc:
        print(
            f"perfbench: run from the root of a checkout ({exc})",
            file=sys.stderr,
        )
        return 2

    from perfbench.harness import run_workload

    out = run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), args.size
    )
    print(json.dumps(out["summary"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
