#!/usr/bin/env python3
"""Tracing overhead of the benchmark: run one workload untraced, then
traced with the same seed, and print each end-to-end metric from both runs
with their difference (traced minus untraced).

    python3 perfbench/overhead.py --workload log_tail --seed 1 --seconds 30
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def result(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    args = ap.parse_args()
    plain = result(args, 0)
    traced = result(args, 1)
    report = {}
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        report[name] = {
            "unit": m["unit"],
            "untraced": m["value"],
            "traced": t,
            "overhead": t - m["value"],
            "overhead_share": (t - m["value"]) / m["value"],
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
