"""Fast self-test of the benchmark: every workload (including pip_tiling,
which BENCHMARK.json leaves out) at a tiny input size, untraced and
traced, must pass its correctness gate and print exactly the metrics
BENCHMARK.json declares.

    python3 perfbench/selftest.py [workload ...]

Exits 0 when every run passes. Takes about eight minutes on a 4-core
host: each of the six runs starts Spark and pays its cold pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    names = argv or list(WORKLOADS)
    expected = {0: {m["name"] for m in spec["end_to_end"]},
                1: {m["name"] for m in spec["per_layer"]}}
    failures = 0
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "3", "--seconds", "2", "--trace", str(trace),
                   "--scale", "0.02"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=300)
            problems = []
            if r.returncode != 0:
                problems.append(f"exit {r.returncode}: {r.stderr[-800:]}")
            else:
                res = json.loads(r.stdout.strip().splitlines()[-1])
                if not res["correct"] or res["failed"]:
                    problems.append(f"not correct: {r.stdout[-800:]}")
                if set(res["metrics"]) != expected[trace]:
                    problems.append(f"metrics {sorted(res['metrics'])} != "
                                    f"{sorted(expected[trace])}")
            status = "ok" if not problems else "FAIL"
            print(f"{name} trace={trace}: {status}", flush=True)
            for p in problems:
                print("   ", p)
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
