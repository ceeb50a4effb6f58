"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload named in ``BENCHMARK.json`` at the tiny input size,
untraced and traced, with one deliberately wrong expected answer, and
checks that each run exits 0, prints exactly the metrics
``BENCHMARK.json`` names with their units, and counts the wrong answer as
one failed operation without aborting the run. Exits 1 on any problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_run(workload: str, trace: int, want: dict[str, str]) -> list[str]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "10", "--trace", str(trace), "--size", "tiny", "--inject-wrong",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        problems.append(f"{where}: metrics {sorted(got.items())} != {sorted(want.items())}")
    if res["failed"] != 1 or res["correct"]:
        problems.append(f"{where}: the wrong answer was not counted once: {res}")
    if res["attempted"] < 2:
        problems.append(f"{where}: the run stopped after the wrong answer: {res}")
    bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], float)]
    if bad:
        problems.append(f"{where}: non-numeric values for {bad}")
    print(f"{where}: attempted={res['attempted']} failed={res['failed']}", flush=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            problems += check_run(w["name"], trace, want)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
