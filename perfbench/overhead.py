"""Tracing overhead: run one workload untraced and traced with the same
seed, and print traced minus untraced for every end-to-end metric.

    python3 perfbench/overhead.py --workload replay_range --seed 7 --seconds 12

The traced run's end-to-end numbers come from its spans file
(``end_to_end_traced``); a single pair is one sample, so repeat over
seeds before reading much into a small difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = out.stdout.strip().splitlines()
    info = json.loads(lines[-2].removeprefix("# run-info "))
    return info, json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    _, plain = _run(args.workload, args.seed, args.seconds, 0)
    info, _ = _run(args.workload, args.seed, args.seconds, 1)
    with open(os.path.join(ROOT, info["spans_file"])) as fh:
        traced = json.load(fh)["end_to_end_traced"]
    rows = {}
    for name, m in plain["metrics"].items():
        t = traced[name]["value"]
        rows[name] = {
            "untraced": m["value"],
            "traced": t,
            "overhead": t - m["value"],
            "unit": m["unit"],
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
