"""Run the benchmark several times and report each metric's median and
spread (interquartile range over median), plus the wall time of each run.

    python3 perfbench/repeat.py --workload replica_query --seeds 1-10 --seconds 5

Runs are sequential, one benchmark process at a time, from the working
directory (the root of a checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import percentiles


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", default="5")
    args = ap.parse_args(argv)

    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    walls = []
    failed = 0
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, run, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            failed += 1
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-2000:]}"
                  f"{proc.stderr[-2000:]}")
            continue
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    print(f"{args.workload}: {len(walls)} runs, {failed} failed, wall median "
          f"{percentiles.median(walls):.1f}s max {max(walls):.1f}s")
    for name, vs in values.items():
        spread = percentiles.spread(vs) if len(vs) >= 2 else float("nan")
        print(f"  {name:36s} median {percentiles.median(vs):12.4f}  spread {spread:.3f}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
