"""Smoke test for the benchmark itself: every workload of BENCHMARK.json,
untraced and traced, on tiny inputs (sf 0.001 tables and a 100-document
corpus). Prints every metric with its unit and checks that each metric
BENCHMARK.json names is there in that unit, that no query failed, that the
end-to-end metrics are positive, and that the traced spans account for
the queries' walls.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=300, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(bench: dict, section: str, out: dict) -> list[str]:
    problems = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(out)}")
    if out["failed"] != 0 or not out["correct"] or out["attempted"] < 1:
        problems.append(f"failed {out['failed']} of {out['attempted']}")
    for m in bench[section]:
        got = out["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            problems.append(f"{m['name']} is not a number in {m['unit']}: {got}")
        elif section == "end_to_end" and got["value"] <= 0:
            problems.append(f"{m['name']} is not positive")
    if section == "per_layer":
        unaccounted = out["metrics"]["trace.unaccounted_frac"]["value"]
        if not 0 <= unaccounted < 0.05:
            problems.append(f"spans leave {unaccounted:.1%} of the queries' wall unaccounted")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w["name"], trace)
            print(f"== {w['name']} trace={trace}: {out['failed']} of {out['attempted']} failed")
            for name, m in out["metrics"].items():
                print(f"   {name} = {m['value']:.6g} {m['unit']}")
            problems += [f"{w['name']} trace={trace}: {p}" for p in check(bench, section, out)]
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
