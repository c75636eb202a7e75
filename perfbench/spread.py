"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload codec_python --seeds 1-10 [--seconds 12]

Runs the benchmark once per seed and prints, for each end-to-end
metric, its median and the distance between the first and third
quartiles as a share of the median, beside the metric's bound in
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import HERE, ROOT


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    lo, hi = map(int, args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, cwd=ROOT)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {time.perf_counter() - t:.1f} s, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']}: median {med:.4f}, spread {(q3 - q1) / med:.4f} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
