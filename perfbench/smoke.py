"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced,
each for the shortest measured region (one cold pass plus the minimum
warm passes), and asserts that the run is correct and reports exactly
the metrics BENCHMARK.json names, each with its declared unit.  Exits
non-zero and names the first problem otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [*spec["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"incorrect run: {proc.stdout.strip().splitlines()[-2][:2000]}")
    want = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        problems.append(f"metrics: missing {missing}, unexpected {extra}, wrong unit {wrong}")
    for k, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{k}: value {v.get('value')!r} is not a number")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check_run(w["name"], trace, spec)
            status = "ok" if not problems else "FAIL"
            print(f"{status}  {w['name']} --trace {trace}")
            for p in problems:
                print(f"      {p}")
            failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
