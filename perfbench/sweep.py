"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workload filter_captions --seeds 1-10 [--trace 0] [--seconds 4]

Runs perfbench/run.py once per seed, one after another, and prints per
metric the median, the quartile spread (Q3 - Q1) / median that BENCHMARK.json's
bounds are checked against, and every value; then the wall time per run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seconds", type=float, default=None, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args(argv)
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in args.seeds:
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        walls.append(time.time() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            failed += 1
            continue
        res = json.loads(lines[-1])
        failed += int(not res["correct"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']}", flush=True)

    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 and median(vs) else float("nan")
        shown = " ".join(f"{v:.4g}" for v in vs)
        print(f"{k:40s} median {median(vs):>12.4f} spread {spread:7.3f}  [{shown}]")
    print(f"wall per run: median {median(walls):.1f}s, max {max(walls):.1f}s, total {sum(walls):.0f}s; failed runs {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
