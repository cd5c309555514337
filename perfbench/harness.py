"""One workload run in one Python process with one live SparkSession.

Started by ``run.py``, which prepares the data, the environment and the
working directory. The run:

1. sets up ``SETUP_CYCLES`` times from cold: the package's ``get_spark``,
   which launches a new JVM, plus a fixed warm-up (a scan and aggregate of
   a small table); every cycle but the last stops its session and JVM;
   ``setup_s`` is the median cycle's CPU time, counted as for
   ``pass_cpu_s``;
2. runs one untimed verification pass, which also warms the operations'
   code paths: every operation, with each output compared with its
   reference (DuckDB oracle or on-disk check); then ``WARM_PASSES``
   untimed passes;
3. runs timed passes over the operations, in a seeded order per pass,
   until ``--seconds`` have passed and at least ``MIN_PASSES`` are done;
   after each operation it checks for persisted-RDD leaks, and after each
   pass it clears Spark's cache; ``pass_cpu_s`` is the median pass's CPU
   time over this process, the JVM and its Python workers, without the
   JVM's JIT compiler threads;
4. prints a summary line and, as the last line, the JSON result.

With ``--trace 1`` the timed passes alternate untraced, traced, traced,
untraced (at least ``TRACED_MIN_PASSES``). Traced passes tag Spark jobs
with job groups, record spans and read the AppStatusStore after the pass;
per-layer metrics come from the traced passes, and tracing overhead is
traced minus untraced median pass wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

from pyspark import SparkContext

from etl_pipeline_for_retail_sales_data_spark.session import get_spark
from spans import PhaseStats, SparkStats, Tracer
from workloads import WORKLOADS, CheckFailed, Context, Op, dir_files, output_stats

SETUP_CYCLES = 2
WARM_PASSES = 1
MIN_PASSES = 2
TRACED_MIN_PASSES = 4


def warm_up(spark, sf_dir: str) -> None:
    """The parquet reader and a shuffle and aggregate, on a small table,
    so that no workload's own queries run here."""
    spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy("n_regionkey").count().collect()


def stop_jvm(spark) -> None:
    """Stop the session and its JVM and wait until the JVM has exited, so
    that the next ``get_spark`` launches a new one."""
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its standard input closes
    gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def proc_tree_usage(root_pid: int) -> tuple[float, int]:
    """CPU seconds (user plus system, including reaped children) and
    resident set size in kB of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    ticks = pages = 0
    todo, seen = [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, []))
        ticks += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
        pages += int(stats[pid][21])
    return ticks / os.sysconf("SC_CLK_TCK"), pages * os.sysconf("SC_PAGE_SIZE") // 1024


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            ticks += sum(int(x) for x in rest.split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.peak_rss_kb = 0
        self.jvm_pid: int | None = None
        self.ckpt_seen: set[str] = set()

    # -- helpers -------------------------------------------------------------

    def work_cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and its Python
        workers, without the JVM's JIT compiler threads; also updates the
        peak resident set size."""
        cpu_s, rss_kb = proc_tree_usage(os.getpid())  # the JVM is a child
        self.peak_rss_kb = max(self.peak_rss_kb, rss_kb)
        return cpu_s - (jit_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0)

    def fail(self, what: str, exc: Exception) -> None:
        first = str(exc).splitlines()[0][:300] if str(exc) else ""
        self.failures.append(f"{what}: {type(exc).__name__}: {first}")
        print(f"perfbench: FAILED {self.failures[-1]}", file=sys.stderr, flush=True)
        if not isinstance(exc, CheckFailed):
            traceback.print_exception(exc, file=sys.stderr)

    def release_leaked_rdds(self) -> int:
        """Count persisted RDDs left behind and release them, so the next
        operation starts clean."""
        jmap = self.sc._jsc.getPersistentRDDs()
        ids = list(jmap.keySet().toArray())
        for rid in ids:
            jmap.get(rid).unpersist(False)
        return len(ids)

    def new_ckpt_bytes(self) -> int:
        """Bytes of checkpoint files written since the last call."""
        now = dir_files(self.ckpt_dir)
        new = sum(size for p, size in now.items() if p not in self.ckpt_seen)
        self.ckpt_seen = set(now)
        return new

    def job_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    # -- phases --------------------------------------------------------------

    def setup(self) -> None:
        self.setups = []  # (start wall s, warm-up wall s, CPU s) per cycle
        for i in range(SETUP_CYCLES):
            cpu0 = self.work_cpu_s()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            warm_up(spark, self.args.data)
            t2 = time.perf_counter()
            self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            self.setups.append((t1 - t0, t2 - t1, self.work_cpu_s() - cpu0))
            if i < SETUP_CYCLES - 1:
                stop_jvm(spark)
                self.jvm_pid = None
        self.spark = spark
        self.sc = spark.sparkContext
        self.ckpt_dir = os.path.abspath("ckpt")
        self.sc.setCheckpointDir(self.ckpt_dir)
        self.stats = SparkStats(spark)
        self.ctx = Context(spark, self.args.data, os.path.abspath("work"), self.args.seed)
        self.ops = self.workload.ops(self.ctx)

    def verify_pass(self) -> None:
        for op in self.rng.sample(self.ops, len(self.ops)):
            self.attempted += 1
            try:
                if op.prepare:
                    op.prepare(self.ctx)
                state = op.construct(self.ctx)
                if op.sink:
                    op.execute(self.ctx, state)
                op.verify(self.ctx, state)
                del state
                leaked = self.release_leaked_rdds()
                if leaked:
                    raise CheckFailed(f"{leaked} persisted RDDs left behind")
            except Exception as exc:  # noqa: BLE001 - every failure is counted, the run goes on
                self.fail(f"verify {op.name}", exc)
        self.spark.catalog.clearCache()

    def open_phase(self, tracer: Tracer, group: str, name: str, kind: str, op_span, phase_spans: dict) -> None:
        """Tag the Spark jobs that follow with ``group`` and open its span."""
        if tracer.enabled:
            self.job_group(group)
            phase_spans[group] = tracer.start(name, kind, op_span)

    def timed_op(self, op: Op, group: str, tracer: Tracer, op_span, phase_spans: dict) -> dict:
        """Construct and execute ``op``; jobs of a traced op run under the
        job groups ``<group>construct`` and ``<group>execute``."""
        if op.prepare:
            op.prepare(self.ctx)
        try:
            self.open_phase(tracer, group + "construct", "construct", "construct", op_span, phase_spans)
            t0 = time.perf_counter()
            state = op.construct(self.ctx)
            t1 = time.perf_counter()
            tracer.end(phase_spans.get(group + "construct"))
            kind = "sink" if op.sink else "execute"
            self.open_phase(tracer, group + "execute", op.sink or "execute", kind, op_span, phase_spans)
            op.execute(self.ctx, state)
            t2 = time.perf_counter()
            tracer.end(phase_spans.get(group + "execute"))
        finally:
            if tracer.enabled:
                self.job_group(None)
        return {"op": op.name, "construct_s": t1 - t0, "execute_s": t2 - t1, "sink": op.sink}

    def timed_pass(self, index: int, traced: bool, parent) -> dict:
        tracer = self.tracer if traced else Tracer(False)
        if traced:
            self.new_ckpt_bytes()  # files left by earlier passes are not this pass's
        rec = {"index": index, "traced": traced, "ops": [], "leaked": 0, "ckpt_bytes": 0}
        phase_spans: dict = {}
        pass_span = tracer.start(f"pass {index}", "pass", parent)
        wall_start = time.time()
        cpu0, jit0, steal0 = self.work_cpu_s(), jit_cpu_s(self.jvm_pid), host_steal_s()
        t_pass = time.perf_counter()
        for op in self.rng.sample(self.ops, len(self.ops)):
            self.attempted += 1
            op_span = tracer.start(op.name, "operation", pass_span)
            try:
                rec["ops"].append(self.timed_op(op, f"p{index}/{op.name}/", tracer, op_span, phase_spans))
                leaked = self.release_leaked_rdds()
                rec["leaked"] += leaked
                if leaked:
                    raise CheckFailed(f"{leaked} persisted RDDs left behind")
            except Exception as exc:  # noqa: BLE001 - every failure is counted, the run goes on
                self.fail(f"pass {index} {op.name}", exc)
            if traced:
                rec["ckpt_bytes"] += self.new_ckpt_bytes()
            tracer.end(op_span)
            self.work_cpu_s()  # samples the peak resident set size
        self.spark.catalog.clearCache()
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["cpu_s"] = self.work_cpu_s() - cpu0
        rec["jit_s"] = jit_cpu_s(self.jvm_pid) - jit0
        rec["steal_frac"] = (host_steal_s() - steal0) / (os.cpu_count() * rec["wall_s"])
        tracer.end(pass_span)
        rec["written_bytes"], rec["files_written"] = output_stats(self.workload.outputs(self.ctx), wall_start)
        if traced:
            rec["phases"] = self.stats.harvest(f"p{index}/", tracer, phase_spans)
        return rec

    def final_checks(self) -> None:
        for name, check in self.workload.final_checks(self.ctx):
            self.attempted += 1
            try:
                check()
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                self.fail(name, exc)

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, passes: list[dict]) -> dict:
        return {
            "setup_s": (statistics.median(cpu for _, _, cpu in self.setups), "s"),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        }

    @staticmethod
    def op_latency(passes: list[dict]) -> str:
        """Median and 90th percentile of operation latency, for the summary
        line only. A run has 4 to 24 samples of 2 to 8 kinds of operation,
        so the median falls between two kinds and the p90 is an order
        statistic of one or two samples; both vary too much between runs
        to be bounded."""
        lat = [o["construct_s"] + o["execute_s"] for p in passes for o in p["ops"]]
        tail = statistics.quantiles(lat, n=10, method="inclusive")[-1]
        return (
            f"op_p50_s={statistics.median(lat):.4f}s op_tail_s={tail:.4f}s "
            f"(p90 of {len(lat)} samples, {sum(x > tail for x in lat)} beyond it)"
        )

    def per_layer(self, passes: list[dict]) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]

        def med(f):
            return statistics.median(f(p) for p in traced)

        def phase(p, which: str | None = None) -> PhaseStats:
            acc = PhaseStats()
            for group, ps in p["phases"].items():
                if which is None or group.endswith("/" + which):
                    acc.add(ps)
            return acc

        def write_amp(p):
            live = p["written_bytes"]
            return phase(p, "execute").output_mb * 1e6 / live if live else 0.0

        return {
            "session.peak_rss_mb": (self.peak_rss_kb / 1024, "MB"),
            "session.start_s": (statistics.median(s for s, _, _ in self.setups), "s"),
            "session.warmup_s": (statistics.median(w for _, w, _ in self.setups), "s"),
            "jvm.jit_cpu_s": (med(lambda p: p["jit_s"]), "s"),
            "construct.s": (med(lambda p: sum(o["construct_s"] for o in p["ops"])), "s"),
            "construct.jobs": (med(lambda p: phase(p, "construct").jobs), "count"),
            "construct.tasks": (med(lambda p: phase(p, "construct").tasks), "count"),
            "execute.s": (med(lambda p: sum(o["execute_s"] for o in p["ops"])), "s"),
            "execute.jobs": (med(lambda p: phase(p, "execute").jobs), "count"),
            "execute.tasks": (med(lambda p: phase(p, "execute").tasks), "count"),
            "scheduler.empty_task_frac": (med(lambda p: phase(p).empty_tasks / max(1, phase(p).tasks)), "frac"),
            "operators.shuffle_write_mb": (med(lambda p: phase(p).shuffle_write_mb), "MB"),
            "operators.shuffle_read_mb": (med(lambda p: phase(p).shuffle_read_mb), "MB"),
            "operators.exec_run_s": (med(lambda p: phase(p).exec_run_s), "s"),
            "operators.jvm_cpu_s": (med(lambda p: phase(p).jvm_cpu_s), "s"),
            "operators.spill_mb": (med(lambda p: phase(p).spill_mb), "MB"),
            "operators.gc_frac": (med(lambda p: phase(p).gc_s / max(1e-9, phase(p).exec_run_s)), "frac"),
            "operators.python_wait_s": (med(lambda p: phase(p).python_run_s - phase(p).python_jvm_cpu_s), "s"),
            "operators.python_stage_tasks": (med(lambda p: phase(p).python_tasks), "count"),
            "sources.input_mb": (med(lambda p: phase(p).input_mb), "MB"),
            "sources.input_rows": (med(lambda p: phase(p).input_rows), "count"),
            "cachectl.ckpt_mb": (med(lambda p: p["ckpt_bytes"] / 1e6), "MB"),
            "cachectl.leaked_rdds": (sum(p["leaked"] for p in passes), "count"),
            "sinks.write_share": (med(lambda p: sum(o["execute_s"] for o in p["ops"] if o["sink"]) / p["wall_s"]), "frac"),
            "sinks.files_written": (med(lambda p: p["files_written"]), "count"),
            "sinks.written_mb": (med(lambda p: p["written_bytes"] / 1e6), "MB"),
            "sinks.write_amp": (med(write_amp), "ratio"),
            "trace.overhead_s": (
                statistics.median(p["wall_s"] for p in traced) - statistics.median(p["wall_s"] for p in plain),
                "s",
            ),
        }

    # -- run -----------------------------------------------------------------

    def run(self) -> dict:
        root = self.tracer.start(self.args.workload, "workload", None, seed=self.args.seed)
        marks = [("start", time.perf_counter())]
        self.setup()
        marks.append(("setup", time.perf_counter()))
        self.verify_pass()
        marks.append(("verify", time.perf_counter()))
        # the JIT compiler is still catching up in the first passes after
        # verification, and their CPU time falls steeply from pass to pass
        for i in range(WARM_PASSES):
            self.timed_pass(-1 - i, False, root)
        passes: list[dict] = []
        t0 = time.perf_counter()
        min_passes = TRACED_MIN_PASSES if self.args.trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - t0 < self.args.seconds:
            # untraced, traced, traced, untraced: a warm-up trend across
            # passes cancels out of the tracing-overhead estimate
            traced = bool(self.args.trace) and len(passes) % 4 in (1, 2)
            passes.append(self.timed_pass(len(passes), traced, root))
        marks.append(("timed", time.perf_counter()))
        self.final_checks()
        marks.append(("final", time.perf_counter()))
        self.tracer.end(root)
        print(
            "perfbench: timeline " + " ".join(f"{n}={t - p:.1f}s" for (_, p), (n, t) in zip(marks, marks[1:]))
            + " setups=" + ",".join(f"{s:.2f}+{w:.2f}/{cpu:.2f}cpu" for s, w, cpu in self.setups),
            file=sys.stderr, flush=True,
        )

        failed = len(self.failures)
        e2e = self.end_to_end(passes)
        metrics = self.per_layer(passes) if self.args.trace else e2e
        print(
            f"perfbench: workload={self.args.workload} seed={self.args.seed} passes={len(passes)} "
            f"ops/pass={len(self.ops)} attempted={self.attempted} failed={failed} "
            f"failed_ops_frac={failed / self.attempted:.4f} written_mb={passes[-1]['written_bytes'] / 1e6:.3f} "
            f"peak_rss_mb={self.peak_rss_kb / 1024:.1f} "
            + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items())
            + f" setup_wall_s={statistics.median(s + w for s, w, _ in self.setups):.4f}s"
            + f" pass_s={statistics.median(p['wall_s'] for p in passes):.4f}s {self.op_latency(passes)}"
            + " pass_walls=" + ",".join(f"{p['wall_s']:.2f}" for p in passes)
            + " pass_cpus=" + ",".join(f"{p['cpu_s']:.2f}" for p in passes)
            + " pass_jit_cpus=" + ",".join(f"{p['jit_s']:.2f}" for p in passes)
            + " host_steal_frac=" + ",".join(f"{p['steal_frac']:.3f}" for p in passes),
            flush=True,
        )
        if self.args.trace:
            self.tracer.dump(self.args.trace_out, {
                "workload": self.args.workload,
                "seed": self.args.seed,
                "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "failed_ops": self.failures,
                "passes": [{k: v for k, v in p.items() if k != "phases"} for p in passes],
            })
            print(f"perfbench: trace written to {self.args.trace_out}", flush=True)
        self.spark.stop()
        self.ctx.close()
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main() -> None:
    ap = argparse.ArgumentParser(description="One benchmark run; normally started by run.py.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True, help="directory of the input tables")
    ap.add_argument("--trace-out", required=True, help="where a traced run writes its spans")
    result = Runner(ap.parse_args()).run()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
