"""Self-test of the benchmark: every workload at the tiny input size, untraced
and traced. Checks that the metric names printed equal those declared in
BENCHMARK.json (end_to_end untraced, per_layer traced), that each run's
output checks pass (failed == 0, so failed_frac is 0), and that every
value is finite.

    python3 layerbench/selftest.py        # from the repository root
"""

from __future__ import annotations

import json
import math
import subprocess
import sys


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    declared = {
        0: [m["name"] for m in bench["end_to_end"]],
        1: [m["name"] for m in bench["per_layer"]],
    }
    problems = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            label = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            found = []
            if sorted(out["metrics"]) != sorted(declared[trace]):
                found.append(f"{label}: metric names {sorted(out['metrics'])} != declared {sorted(declared[trace])}")
            if out["failed"] != 0 or not out["correct"] or out["attempted"] < 1:
                found.append(f"{label}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']}")
            bad = [k for k, v in out["metrics"].items() if not math.isfinite(v["value"])]
            if bad:
                found.append(f"{label}: non-finite values {bad}")
            problems += found
            print(f"{label}: {'ok' if not found else 'FAILED'} attempted={out['attempted']} failed={out['failed']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
