#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the inter-quartile spread as a share of
the median, against a third of the metric's bound in BENCHMARK.json.

    python3 perfbench/prove.py [--workloads a b] [--seeds 1 2 3 ...] [--trace 0]

Runs one workload at a time, sequentially, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import BENCH_DIR, ROOT  # noqa: E402
from stats import spread, summary  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="*", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    steady = True
    for workload in args.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in args.seeds:
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                capture_output=True, text=True, cwd=ROOT, timeout=180,
            )
            walls.append(time.monotonic() - t0)
            if out.returncode != 0:
                print(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            result = json.loads(out.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                steady = False
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        print(f"{workload}: run wall {summary(walls)}")
        for name, vals in values.items():
            s = summary(vals)
            line = f"  {name}: median={s['median']:.4g} n={s['n']}"
            if len(vals) >= 2 and name in bounds:
                sp = spread(vals)
                ok = name == "setup_s" or sp < bounds[name] / 3
                steady &= ok
                line += f" spread={sp:.3f} bound={bounds[name]} {'ok' if ok else 'WIDE'}"
            print(line, flush=True)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
