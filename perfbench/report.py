"""Per-layer table and tracing overhead for each workload.

    python3 perfbench/report.py [--seed N] [--seconds S] [workload ...]

Runs every named workload (all by default) twice with the same seed,
once untraced and once traced, prints the traced run's per-layer table
and the tracing overhead: traced minus untraced for each end-to-end
metric the traced run also measures.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} --trace {trace} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = p.parse_args()
    for workload in args.workloads:
        _, plain = run(workload, args.seed, args.seconds, 0)
        lines, traced = run(workload, args.seed, args.seconds, 1)
        print("\n".join(line for line in lines[:-1] if not line.startswith("header ")))
        print(f"tracing overhead ({workload}, seed {args.seed}):")
        for name in ("setup_s", "op_p50_s", "items_per_s"):
            base = plain["metrics"][name]["value"]
            with_trace = traced["metrics"][f"traced.{name}"]["value"]
            print(f"  {name:14s} untraced {base:12.4f}  traced {with_trace:12.4f}  "
                  f"diff {with_trace - base:+10.4f} ({(with_trace - base) / base:+.1%})")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
