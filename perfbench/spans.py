"""Spans around calls into the program's layers, joined with Spark's own
job, stage and task counters.

A :class:`Tracer` built with ``enabled=False`` (the end-to-end runs) only
times: ``span`` yields without touching Spark. Enabled, each span runs
under its own Spark job group, and records name, start, end, parent span
and the id of the query execution (or ingest phase) it belongs to. A
streaming query runs its jobs in Spark's stream-execution thread, under
the query's ``runId`` as job group, so a span that runs one records that
id as ``attrs["stream_run_id"]`` and those jobs count as its own. Spans
stay in memory; :meth:`Tracer.collect` joins the spans of the session the
tracer is bound to with the local REST ``/jobs`` and ``/stages``
endpoints once, after the timed work, and :meth:`Tracer.write` writes one
JSON line per span.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager

#: The reference's api-log query shapes the ingest workload reads with.
READ_SHAPES = ("count_all", "frequency_by", "error_analysis", "time_range_scan", "recent_top_k")

#: Stage counters summed per span, REST field → span field.
STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "inputBytes": "input_bytes",
    "numTasks": "tasks",
}


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        """Record the spans that follow against ``spark``'s application."""
        self._sc = spark.sparkContext
        self._rest = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"

    @contextmanager
    def span(self, name: str, exec_id: str, attrs: dict | None = None):
        """When enabled, record the body as a span and tag its Spark jobs
        with the span's job group. ``attrs`` is kept by reference, so the
        caller can add counts after the timed body."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "exec_id": exec_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{sid}",
            "app": self._sc.applicationId,
            "attrs": {} if attrs is None else attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(rec["group"], f"{exec_id} {name}")
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self._sc.setLocalProperty("spark.jobGroup.id", parent)
            self._sc.setLocalProperty("spark.job.description", None)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._rest}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def collect(self) -> None:
        """Attach to each span of the bound session its own Spark jobs,
        stages, tasks and counters (spans of earlier sessions get none).

        Waits (bounded) for the status store to see every job end, since
        the REST view trails the actions by a listener-bus hop."""
        if not self.enabled:
            return
        mine = [s for s in self.spans if s["app"] == self._sc.applicationId]
        if not mine:
            return

        def groups_of(span: dict) -> list[str]:
            run_id = span["attrs"].get("stream_run_id")
            return [span["group"]] + ([run_id] if run_id else [])

        groups = {g for s in mine for g in groups_of(s)}
        deadline = time.time() + 30
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, dict] = {}
        for st in self._get("stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages[st["stageId"]] = st  # last attempt wins
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["jobGroup"], []).append(j)
        for s in mine:
            own = [j for g in groups_of(s) for j in by_group.get(g, [])]
            ids = sorted({sid for j in own for sid in j["stageIds"] if sid in stages})
            s["jobs"] = len(own)
            s["failed_jobs"] = sum(j["status"] == "FAILED" for j in own)
            s["stages"] = len(ids)
            for field, key in STAGE_FIELDS.items():
                s[key] = sum(stages[i].get(field, 0) for i in ids)
            s["task_skew"] = max((self._skew(stages[i]) for i in ids), default=0.0)

    def _skew(self, stage: dict) -> float:
        """Max ÷ median task run time of one stage (1.0 for one task)."""
        if stage.get("numTasks", 0) < 2:
            return 1.0
        q = self._get(
            f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / max(q[0], 1.0)

    def peak_heap_mb(self) -> float:
        """Driver JVM peak heap from the REST ``/executors`` peak memory metrics."""
        execs = self._get("executors")
        return max(e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0) for e in execs) / 2**20

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer sums over one traced run's spans (see README.md)."""

    def of(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def wall(ss: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def total(ss: list[dict], key: str) -> float:
        return sum(s.get(key, 0) for s in ss)

    def attr(ss: list[dict], key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in ss)

    measured = [s for s in spans if not s["exec_id"].startswith("setup")]
    run_ms = total(measured, "executor_run_ms")
    busy = wall([s for s in measured if s["parent"] is None]) * cores
    reads = of("api_logs.read")
    out = {
        "construct.wall_s": wall(of("construct")),
        "construct.jobs": total(of("construct"), "jobs"),
        "action.wall_s": wall(of("action")),
        "spark.jobs": total(measured, "jobs"),
        "spark.stages": total(measured, "stages"),
        "spark.tasks": total(measured, "tasks"),
        "spark.core_idle_frac": 1.0 - run_ms / 1000.0 / busy if busy else 0.0,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": total(measured, "executor_cpu_ns") / 1e9,
        "spark.gc_s": total(measured, "gc_ms") / 1000.0,
        "spark.shuffle_read_bytes": total(measured, "shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total(measured, "shuffle_write_bytes"),
        "spark.spill_bytes": total(measured, "memory_spill_bytes") + total(measured, "disk_spill_bytes"),
        "spark.input_bytes": total(measured, "input_bytes"),
        "spark.task_skew": max((s.get("task_skew", 0.0) for s in measured), default=0.0),
        "generator.s": statistics.median([s["end"] - s["start"] for s in of("generator")] or [0.0]),
        "generator.rows": attr(of("generator"), "rows") / max(len(of("generator")), 1),
        "ingest.flush_s": wall(of("ingest.flush")),
        "ingest.files_staged": attr(of("ingest.flush"), "files_staged"),
        "ingest.bytes_staged": attr(of("ingest.flush"), "bytes_staged"),
        "ingest.commit_s": wall(of("ingest.commit")),
        "ingest.files_linked": attr(of("ingest.commit"), "files_linked"),
        "maintenance.compact_s": wall(of("maintenance.compact")),
        "maintenance.files_before": attr(of("maintenance.compact"), "files_before"),
        "maintenance.files_after": attr(of("maintenance.compact"), "files_after"),
        "maintenance.bytes_rewritten": attr(of("maintenance.compact"), "bytes_rewritten"),
        "api_logs.read_s": wall(reads),
        "api_logs.jobs": total(reads, "jobs"),
        "api_logs.tasks": total(reads, "tasks"),
    }
    for shape in READ_SHAPES:
        out[f"api_logs.read_s.{shape}"] = wall([s for s in reads if s["attrs"]["shape"] == shape])
    return out
