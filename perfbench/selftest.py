"""Self-test of the benchmark at tiny sizes.

For every workload the benchmark can run, one untraced and one traced
run with the same seed must:
  - end with the JSON result line, holding exactly the metrics that
    BENCHMARK.json names for that mode, each with its unit;
  - report triple precision = recall = 1.0 and no failed operation;
  - print identical exact counts (rows per stage or per store).

Usage (from the root of the repository; takes several minutes, one
Spark session per run, one run at a time):

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise AssertionError(
            f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}"
        )
    lines = out.stdout.strip().splitlines()
    counts = next(json.loads(ln[len("counts "):]) for ln in lines
                  if ln.startswith("counts "))
    return json.loads(lines[-1]), counts


def check_metrics(result: dict, declared: list[dict], where: str) -> list[str]:
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {n: m.get("unit") for n, m in result["metrics"].items()}
    if got != want:
        errors.append(f"{where}: metrics/units differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"unit mismatches {sorted(n for n in want if n in got and got[n] != want[n])}")
    for n, m in result["metrics"].items():
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: {n} has no numeric value")
    return errors


def main() -> int:
    from perfbench.run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for w in WORKLOADS:
        untraced, counts0 = run(w, 0)
        traced, counts1 = run(w, 1)
        errors += check_metrics(untraced, bench["end_to_end"], f"{w} trace=0")
        errors += check_metrics(traced, bench["per_layer"], f"{w} trace=1")
        m = untraced["metrics"]
        for name in ("triple_precision", "triple_recall"):
            if m.get(name, {}).get("value") != 1.0:
                errors.append(f"{w}: {name} = {m.get(name)}")
        for where, r in (("trace=0", untraced), ("trace=1", traced)):
            if not r["correct"] or r["failed"]:
                errors.append(f"{w} {where}: correct={r['correct']} failed={r['failed']}")
        if counts0 != counts1:
            errors.append(f"{w}: counts differ between runs: {counts0} vs {counts1}")
        print(f"{w}: checked, counts {json.dumps(counts0, sort_keys=True)}", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
