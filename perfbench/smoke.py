"""Smoke check of the benchmark itself, at sf0.001.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced, and fails unless
each run is correct, prints every metric ``BENCHMARK.json`` names for
its mode, and writes a span file in which the self times of each query
span's subtree add up to that span's duration.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import HERE, ROOT
from spans import self_times

from workloads import SMOKE_SF, WORKLOADS


def subtree_ok(spans: list[dict]) -> bool:
    selfs = self_times(spans)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def total(i: int) -> float:
        return selfs[i] + sum(total(k) for k in kids.get(i, ()))

    queries = [s for s in spans if s["name"] == "query"]
    return bool(queries) and all(
        abs(total(s["id"]) - (s["end"] - s["start"])) < 1e-6 for s in queries)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", str(SMOKE_SF)]
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = out.stdout.strip().splitlines()
            problems = []
            if out.returncode != 0 or not lines:
                problems.append(f"exit {out.returncode}: {out.stderr[-2000:]}")
            else:
                res = json.loads(lines[-1])
                if not res["correct"]:
                    problems.append(f"{res['failed']} of {res['attempted']} failed")
                missing = want[trace] - set(res["metrics"])
                if missing:
                    problems.append(f"missing metrics {sorted(missing)}")
                if trace:
                    path = os.path.join(ROOT, ".perfbench_work", f"trace-{workload}-1.json")
                    with open(path) as f:
                        if not subtree_ok(json.load(f)["spans"]):
                            problems.append("self times do not add up to the query spans")
            print(f"{workload} trace={trace}: {'; '.join(problems) or 'ok'}")
            ok = ok and not problems
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
