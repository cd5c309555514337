"""Spans and Spark job/stage records for the traced run.

Spans are kept in memory (name, kind, parent, start, end, attributes)
and written to one JSON file when the run ends. Spark work is attributed
through job groups: the harness tags every construct and execute phase
with ``<pass>/<op>/<phase>``, and :meth:`SparkStats.harvest` reads the
jobs and stages of those groups from Spark's AppStatusStore, which is
populated even with the UI disabled.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field

#: Physical operators whose tasks hand rows to Python workers.
_PYTHON_NODE = re.compile(r'label="[A-Za-z]*(?:Python|Pandas|Arrow)[A-Za-z]*"')


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    def start(self, name: str, kind: str, parent: Span | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        span = Span(len(self.spans), name, kind, parent.id if parent else None, time.perf_counter() - self._t0, attrs=attrs)
        self.spans.append(span)
        return span

    def end(self, span: Span | None, **attrs) -> None:
        if span is not None:
            span.end = time.perf_counter() - self._t0
            span.attrs.update(attrs)

    def add(self, name: str, kind: str, parent: Span | None, start_ms: int, end_ms: int, **attrs) -> Span | None:
        """Record a finished span timed by Spark (milliseconds since the
        epoch), converted to this tracer's clock."""
        if not self.enabled:
            return None
        start, end = start_ms / 1e3 - self._epoch0, end_ms / 1e3 - self._epoch0
        span = Span(len(self.spans), name, kind, parent.id if parent else None, start, end, attrs)
        self.spans.append(span)
        return span

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": [s.__dict__ for s in self.spans]}, f)


@dataclass
class PhaseStats:
    """Spark work of one construct or execute phase."""

    jobs: int = 0
    tasks: int = 0
    empty_tasks: int = 0
    python_tasks: int = 0
    exec_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    python_run_s: float = 0.0  # executor run time of stages with Python workers
    python_jvm_cpu_s: float = 0.0  # and their JVM CPU time
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0

    def add(self, other: "PhaseStats") -> None:
        for k, v in other.__dict__.items():
            setattr(self, k, getattr(self, k) + v)


class SparkStats:
    """Reads job and stage records for job groups from the AppStatusStore."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = spark._jvm
        self._jvm = jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper.registerModule(scala_module)
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_by_group(self, prefix: str) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for job in self._json(self._store.jobsList(None)):
            group = job.get("jobGroup")
            if group and group.startswith(prefix):
                out.setdefault(group, []).append(job)
        return out

    def _stage(self, stage_id: int) -> list[dict]:
        attempts = self._json(
            self._store.stageData(stage_id, True, self._jvm.java.util.ArrayList(), False, self._no_quantiles)
        )
        return [a for a in attempts if a["status"] == "COMPLETE"]

    def _is_python_stage(self, stage_id: int) -> bool:
        graph = self._store.operationGraphForStage(stage_id)
        dot = self._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
        return bool(_PYTHON_NODE.search(dot))

    def harvest(self, prefix: str, tracer: Tracer, spans: dict[str, Span]) -> dict[str, PhaseStats]:
        """Stats per job group under ``prefix``. Adds a span per job and per
        stage under the phase span registered for its group in ``spans``.
        A stage shared by several jobs counts once, for the first job."""
        seen: set[int] = set()
        out: dict[str, PhaseStats] = {}
        for group, jobs in self.jobs_by_group(prefix).items():
            ps = out.setdefault(group, PhaseStats())
            parent = spans.get(group)
            for job in sorted(jobs, key=lambda j: j["jobId"]):
                ps.jobs += 1
                job_span = tracer.add(
                    f"job {job['jobId']}", "spark_job", parent,
                    job.get("submissionTime", 0), job.get("completionTime", 0),
                    status=job["status"], tasks=job["numTasks"],
                )
                for sid in job["stageIds"]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    attempts = self._stage(sid)
                    if not attempts:
                        continue
                    python = self._is_python_stage(sid)
                    for st in attempts:
                        self._add_stage(ps, st, python)
                        tracer.add(
                            f"stage {sid}.{st['attemptId']}", "spark_stage", job_span,
                            st.get("submissionTime", 0), st.get("completionTime", 0),
                            tasks=st["numCompleteTasks"], python=python,
                            exec_run_s=st["executorRunTime"] / 1e3,
                            shuffle_write_bytes=st["shuffleWriteBytes"],
                        )
        return out

    @staticmethod
    def _add_stage(ps: PhaseStats, st: dict, python: bool) -> None:
        tasks = [t for t in (st.get("tasks") or {}).values() if t.get("status") == "SUCCESS"]
        ps.tasks += len(tasks)
        ps.python_tasks += len(tasks) if python else 0
        for t in tasks:
            m = t.get("taskMetrics") or {}
            moved = (
                m.get("inputMetrics", {}).get("recordsRead", 0)
                + m.get("shuffleReadMetrics", {}).get("recordsRead", 0)
                + m.get("shuffleWriteMetrics", {}).get("recordsWritten", 0)
                + m.get("outputMetrics", {}).get("recordsWritten", 0)
            )
            ps.empty_tasks += moved == 0
        ps.exec_run_s += st["executorRunTime"] / 1e3
        ps.jvm_cpu_s += st["executorCpuTime"] / 1e9
        if python:
            ps.python_run_s += st["executorRunTime"] / 1e3
            ps.python_jvm_cpu_s += st["executorCpuTime"] / 1e9
        ps.gc_s += sum((t.get("taskMetrics") or {}).get("jvmGcTime", 0) for t in tasks) / 1e3
        ps.shuffle_write_mb += st["shuffleWriteBytes"] / 1e6
        ps.shuffle_read_mb += (st["shuffleRemoteBytesRead"] + st["shuffleLocalBytesRead"]) / 1e6
        ps.spill_mb += st["diskBytesSpilled"] / 1e6
        ps.input_mb += st["inputBytes"] / 1e6
        ps.input_rows += st["inputRecords"]
        ps.output_mb += st["outputBytes"] / 1e6

