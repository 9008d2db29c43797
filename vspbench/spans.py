"""Traced run support: spans kept in memory, Spark event-log parsing, and
the per-layer metric list.

Spans are recorded by the benchmark around its own calls into the engine
(``query`` -> ``plans.construct`` / ``operators.action`` -> ``plans.plan``)
or rebuilt from streaming progress records (``streaming.batch`` and its
``durationMs`` phases). Spark jobs are tied to spans through the job
group the benchmark sets before each call; job, stage and task counters
come from the event log, which only the traced run enables.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import asdict, dataclass, field

# Every per-layer metric of the traced run: name -> unit. A workload that
# does not exercise a layer reports 0 for it. Counters are per measured
# pass (batch workload) or per micro-batch (stream_live).
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "tables.bytes_read": "bytes",
    "tables.rows_read": "count",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.staged_blocks": "count",
    "plans.plan_s": "s",
    "operators.action_s": "s",
    "operators.action_jobs": "count",
    "operators.tasks": "count",
    "operators.task_skew": "ratio",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.failed_tasks": "count",
    "operators.python_total_s": "s",
    "operators.python_boot_s": "s",
    "operators.python_bytes": "bytes",
    "operators.python_rows": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.busy_ratio": "ratio",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.tasks_per_batch": "count",
    "streaming.rows_per_batch": "count",
    "stateful.state_rows": "count",
    "stateful.state_bytes": "bytes",
    "stateful.update_s": "s",
    "stateful.commit_s": "s",
    "stateful.late_dropped": "count",
    "stateful.keyframe_ratio": "ratio",
    "sinks.fact_rows": "count",
    "sinks.segment_rows": "count",
    "sinks.files_written": "count",
    "generator.late_max_s": "s",
}

# Spark 4.1 SQL metric names on Python exec nodes (PythonSQLMetrics).
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TOTAL = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ROWS = "number of output rows"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    trace_id: str
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, trace_id: str, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, trace_id, parent))
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.span_id]]
            )
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Task:
    job: int
    stage: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    in_bytes: int
    in_rows: int
    shuffle_bytes: int
    failed: bool
    accums: dict[int, float]


@dataclass
class EventLog:
    job_group: dict[int, str] = field(default_factory=dict)
    job_desc: dict[int, str] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    sql_start_ms: list[int] = field(default_factory=list)
    # metric name -> {accumulator id: factor to seconds, bytes or rows}
    python_ids: dict[str, dict[int, float]] = field(default_factory=lambda: defaultdict(dict))

    def jobs_where(self, pred) -> set[int]:
        return {j for j, g in self.job_group.items() if pred(g or "", self.job_desc.get(j, ""))}

    def task_stats(self, jobs: set[int]) -> dict:
        """Counters over the tasks of ``jobs``."""
        ts = [t for t in self.tasks if t.job in jobs]
        by_stage: dict[int, list[int]] = defaultdict(list)
        for t in ts:
            by_stage[t.stage].append(t.duration_ms)
        skew = max(
            (max(d) / max(statistics.median(d), 1) for d in by_stage.values() if len(d) > 1),
            default=1.0,
        )

        def py(name: str) -> float:
            ids = self.python_ids.get(name, {})
            return sum(v * ids[i] for t in ts for i, v in t.accums.items() if i in ids)

        return {
            "tasks": len(ts),
            "task_skew": skew,
            "executor_run_s": sum(t.run_ms for t in ts) / 1e3,
            "executor_cpu_s": sum(t.cpu_ns for t in ts) / 1e9,
            "gc_s": sum(t.gc_ms for t in ts) / 1e3,
            "shuffle_bytes": sum(t.shuffle_bytes for t in ts),
            "failed_tasks": sum(t.failed for t in ts),
            "bytes_read": sum(t.in_bytes for t in ts),
            "rows_read": sum(t.in_rows for t in ts),
            "python_total_s": py(PY_TOTAL),
            "python_boot_s": py(PY_BOOT) + py(PY_INIT),
            "python_bytes": py(PY_SENT) + py(PY_RECV),
            "python_rows": py(PY_ROWS),
        }


_TO_BASE_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}


def _python_metric_ids(plan: dict, out: dict[str, dict[int, float]]) -> None:
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    if PY_SENT in metrics:
        for name in (PY_BOOT, PY_INIT, PY_TOTAL, PY_SENT, PY_RECV, PY_ROWS):
            if name in metrics:
                m = metrics[name]
                out[name][m["accumulatorId"]] = _TO_BASE_UNIT.get(m["metricType"], 1.0)
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the one application log Spark wrote under ``log_dir``."""
    (name,) = os.listdir(log_dir)
    log = EventLog()
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                log.job_group[job] = props.get("spark.jobGroup.id") or ""
                log.job_desc[job] = props.get("spark.job.description") or ""
                for s in ev["Stage IDs"]:
                    stage_job[s] = job
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle_r = m.get("Shuffle Read Metrics", {})
                log.tasks.append(
                    Task(
                        job=stage_job.get(ev["Stage ID"], -1),
                        stage=ev["Stage ID"],
                        duration_ms=info["Finish Time"] - info["Launch Time"],
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        in_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                        in_rows=m.get("Input Metrics", {}).get("Records Read", 0),
                        shuffle_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        + shuffle_r.get("Remote Bytes Read", 0)
                        + shuffle_r.get("Local Bytes Read", 0),
                        failed=bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                        accums={
                            a["ID"]: float(a["Update"])
                            for a in info.get("Accumulables", [])
                            if "Update" in a and str(a["Update"]).lstrip("-").isdigit()
                        },
                    )
                )
            elif kind.endswith("SQLExecutionStart"):
                log.sql_start_ms.append(ev["time"])
                _python_metric_ids(ev["sparkPlanInfo"], log.python_ids)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _python_metric_ids(ev["sparkPlanInfo"], log.python_ids)
    return log


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
