"""Tracing overhead: run one workload untraced and traced on the same seed
and compare their commit and read latencies.

    python3 perfbench/overhead.py --workload lineitem_restate --seed 1

Run from the repository root. Prints one JSON line with both runs' medians
and the traced/untraced ratio minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    out = {"workload": a.workload, "seed": a.seed,
           "trace.overhead_s": traced["trace.overhead_s"]}
    for what in ("commit", "read"):
        p, t = plain[f"{what}_p50_s"], traced[f"trace.{what}_p50_s"]
        out[f"{what}_p50_s"] = {"untraced": p, "traced": t, "overhead": t / p - 1}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
