"""Tracing overhead: runs a workload untraced and traced on the same seeds
and prints traced minus untraced for every end-to-end metric.

    python3 perfbench/overhead.py --workload cypher_read --seeds 1 2 3 --seconds 3

Run from the repository root."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout
    report = json.loads([x for x in out.splitlines() if x.startswith("REPORT ")][-1][7:])
    return {k: v["value"] for k, v in report["end_to_end"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--seconds", type=float, default=3)
    args = ap.parse_args()
    runs = {0: [], 1: []}
    for seed in args.seeds:
        for trace in (0, 1):
            runs[trace].append(end_to_end(args.workload, seed, args.seconds, trace))
    for k in runs[0][0]:
        off = statistics.median(r[k] for r in runs[0])
        on = statistics.median(r[k] for r in runs[1])
        print(json.dumps({"workload": args.workload, "metric": k, "untraced": off, "traced": on,
                          "overhead": on - off, "overhead_share": (on - off) / off}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
