"""Tracing overhead: run one workload untraced, then traced, on the same seed
and print the traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload price_analytics --seed 1 --seconds 12

The untraced figures come from the last stdout line of ``run.py --trace 0``;
the traced ones from the ``end_to_end`` block of the trace file that
``run.py --trace 1`` writes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()

    plain = {k: v["value"] for k, v in _run(args, 0)["metrics"].items()}
    _run(args, 1)
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
    with open(path) as f:
        traced = json.load(f)["end_to_end"]
    print(f"{'metric':24s} {'untraced':>14s} {'traced':>14s} {'traced-untraced':>16s}")
    for k, v in plain.items():
        print(f"{k:24s} {v:14.4f} {traced[k]:14.4f} {traced[k] - v:+16.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
