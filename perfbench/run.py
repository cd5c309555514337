#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The input tables are the engine's
fixed seed-42 test tables, copied under ``perfbench/data/sf<scale>/``. It
runs ``perfbench/harness.py`` for the workload in a child process:

- working directory: a fresh directory under ``.perfbench/``, so Spark's
  warehouse, derby log, checkpoints and sink outputs land there;
- ``PYTHONPATH``: the checkout prepended to any existing value, so Python
  workers on executors import the package from any working directory;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's temp dir: inside that
  directory;
- ``SPARK_GRAFT_CPUS``: the number of usable cores (``local[N]``).

The child gets its own process group; every process in it is stopped
before this script exits, and the run directory is removed. The child's
standard output is passed through, so the last line is the JSON result.
Exits non-zero, printing no result, when the package is not in the
current directory or the run fails or times out.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

PACKAGE = "etl_pipeline_for_retail_sales_data_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
SCALES = ["0.01", "0.001"]  # the table sets under perfbench/data/
RUN_TIMEOUT_S = 170
DRIVER_MEM = "2g"  # the inputs are small; keeps the JVM's heap (and RSS) modest
WORKLOADS = ["retail_etl", "corpus_pipelines"]


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Stop every process in the group and wait until none is left."""
    for sig, wait in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of the retail Spark engine.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0], help="data scale (default %(default)s)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still stop the child's processes

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the root of a source checkout", file=sys.stderr)
        return 2

    state_dir = os.path.join(root, ".perfbench")
    os.makedirs(state_dir, exist_ok=True)
    data = os.path.join(HERE, "data", f"sf{args.sf}")
    run_dir = os.path.join(state_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(state_dir, "traces"), exist_ok=True)
    trace_out = os.path.join(state_dir, "traces", f"{args.workload}-seed{args.seed}.json")

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = tmp
    # a fixed set of JIT compiler threads, so the harness can tell their
    # CPU time apart from the program's (threads that exit take theirs along)
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    env["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # spark-submit's own launcher JVM
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(run_dir, 'warehouse'))} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--trace-out", trace_out,
    ]
    child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s, stopped", file=sys.stderr)
        code = 124
    except KeyboardInterrupt:
        code = 130
    finally:
        stop_group(child.pid)
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        print(f"perfbench: harness exited with code {code}", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
