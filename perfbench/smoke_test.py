"""Smoke test of the benchmark: each workload once, small data, tracing on.

    python3 perfbench/smoke_test.py        # from the root of a checkout

Checks, per workload, that the run exits 0 with no failed operation, that
its JSON result carries every per-layer metric of BENCHMARK.json with its
unit, and that its trace file carries every end-to-end metric with its
unit. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_workload(name: str, spec: dict) -> list[str]:
    cmd = [*spec["command"], "--workload", name, "--seed", "7", "--seconds", "1", "--trace", "1", "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        return [f"{name}: exit {out.returncode}: {out.stderr[-2000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    problems = []
    if result["failed"] or not result["correct"]:
        problems.append(f"{name}: {result['failed']} of {result['attempted']} operations failed")
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{name}-seed7.json")) as f:
        trace = json.load(f)
    for group, emitted in (("per_layer", result["metrics"]), ("end_to_end", trace["summary"]["end_to_end"])):
        for m in spec[group]:
            got = emitted.get(m["name"])
            if got is None:
                problems.append(f"{name}: {group} metric {m['name']} missing")
            elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                problems.append(f"{name}: {group} metric {m['name']} is {got}, expected unit {m['unit']}")
    if not trace["spans"]:
        problems.append(f"{name}: trace has no spans")
    return problems


def test_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = [p for w in spec["workloads"] for p in run_workload(w["name"], spec)]
    assert not problems, "\n".join(problems)


if __name__ == "__main__":
    try:
        test_smoke()
    except AssertionError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
    print("smoke test passed")
