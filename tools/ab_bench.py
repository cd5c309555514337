#!/usr/bin/env python
"""Interleaved A/B bench: the machine-readable noise-defeating artifact
(r11 verdict #9). Recorded cross-round bench numbers on this box drift
±24-50% on byte-identical code, so a plain before/after comparison is
unusable; the only trustworthy evidence is an INTERLEAVED same-session
A/B. This tool runs the named queries against TWO checkouts of the repo
(A = a git worktree at a given rev, B = the working tree) in ABAB order
within one box session, reports min-of-reps per (query, side) and the
per-query B/A speedup, and writes one JSON artifact.

Each side runs in its OWN subprocess+JVM (a single JVM cannot import two
checkouts), but the pairs interleave at the rep level: A1 B1 A2 B2 ...,
so a load spike lands on both sides of a pair, not on one whole side.
Per-query times use the noop sink (guide §1.4) inside each subprocess.

Usage:
  python tools/ab_bench.py --rev HEAD~1 [--reps 2] [--sf DIR] [--out F] q1 q2 ...
  python tools/ab_bench.py --rev <r11-sha> --all-headline
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES
from etl_pipeline_for_retail_sales_data_spark.session import get_spark

sf = sys.argv[2]
names = sys.argv[3].split(",")
spark = get_spark("ab-bench")
spark.sparkContext.setLogLevel("ERROR")
QUERIES["sales_summary"](spark, sf).count()  # warmup (mirrors bench.py)

def _noop(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    yield from batches

spark.range(64).repartition(32).mapInPandas(_noop, "id long").count()
out = {}
for name in names:
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(f"ab:{name}")
    t0 = time.perf_counter()
    d = QUERIES[name](spark, sf)
    d.write.format("noop").mode("overwrite").save()
    out[name] = time.perf_counter() - t0
print("ABRESULT " + json.dumps(out))
"""


def run_side(checkout: str, sf: str, names: list[str]) -> dict[str, float]:
    # both legs run from a fresh neutral cwd, so neither side can import
    # the package (driver or executor) through its working directory;
    # the checkout reaches executors through the prepended PYTHONPATH
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (checkout, env.get("PYTHONPATH")) if p)
    with tempfile.TemporaryDirectory(prefix="ab-bench-cwd-") as cwd:
        proc = subprocess.run(
            [sys.executable, "-c", _RUNNER, checkout, sf, ",".join(names)],
            capture_output=True,
            text=True,
            env=env,
            cwd=cwd,
        )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:] + "\n")
    raise RuntimeError(f"side at {checkout} produced no result (rc={proc.returncode})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--rev", required=True, help="git rev for side A (B = working tree)")
    ap.add_argument("--reps", type=int, default=2, help="AB pairs (ABAB... order)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None, help="JSON artifact path")
    ap.add_argument("--all-headline", action="store_true", help="use bench.py HEADLINE list")
    args = ap.parse_args()
    args.sf = os.path.abspath(args.sf)  # the legs run from a temp cwd

    names = list(args.queries)
    if args.all_headline:
        sys.path.insert(0, ROOT)
        import bench

        names = [q for q in bench.HEADLINE if q not in names] + names
    if not names:
        ap.error("no queries given")

    wt = tempfile.mkdtemp(prefix="ab-bench-A-")
    subprocess.run(
        ["git", "-C", ROOT, "worktree", "add", "--detach", wt, args.rev],
        check=True,
        capture_output=True,
    )
    try:
        a_runs: list[dict[str, float]] = []
        b_runs: list[dict[str, float]] = []
        for rep in range(args.reps):
            a_runs.append(run_side(wt, args.sf, names))
            b_runs.append(run_side(ROOT, args.sf, names))
            print(f"pair {rep + 1}/{args.reps} done", flush=True)
        result = {
            "rev_a": subprocess.run(
                ["git", "-C", ROOT, "rev-parse", args.rev],
                capture_output=True,
                text=True,
                check=True,
            ).stdout.strip(),
            "side_b": "working-tree",
            "sf": args.sf,
            "reps": args.reps,
            "order": "ABAB (one subprocess+JVM per leg)",
            "stat": "min over reps per side; speedup = minA / minB",
            "per_query": {},
        }
        for name in names:
            ta = [r[name] for r in a_runs if name in r]
            tb = [r[name] for r in b_runs if name in r]
            if not ta or not tb:
                continue
            result["per_query"][name] = {
                "a_runs": [round(t, 3) for t in ta],
                "b_runs": [round(t, 3) for t in tb],
                "a_min": round(min(ta), 3),
                "b_min": round(min(tb), 3),
                "a_median": round(statistics.median(ta), 3),
                "b_median": round(statistics.median(tb), 3),
                "speedup_min": round(min(ta) / min(tb), 3) if min(tb) else None,
            }
        out_path = args.out or os.path.join(ROOT, "plans", "r12", "ab_bench.json")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
        print(json.dumps({k: v["speedup_min"] for k, v in result["per_query"].items()}))
        print(f"artifact: {out_path}")
    finally:
        subprocess.run(
            ["git", "-C", ROOT, "worktree", "remove", "--force", wt],
            capture_output=True,
        )


if __name__ == "__main__":
    main()
