"""Parse an uncompressed Spark event log into per-stage rows.

Needs ``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``
(the compressed log is zstd, which has no reader here) and
``spark.eventLog.rolling.enabled=false`` (one file per application). Each
completed stage becomes one :class:`Stage` carrying its job group, task
count, per-task run times and summed task metrics, plus the job group and
submission time of the first job that lists it. Stages whose RDD scopes
name a Python operator are flagged ``python``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# Scope names of stages that run Python: the Arrow and batch UDF operators,
# and the DataSource V2 scans, which in this engine only read its Python
# feed source (file sources scan as "Scan <format>").
PYTHON_SCOPES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MicroBatchScan", "BatchScan")


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    submitted_ms: float | None = None
    scopes: set[str] = field(default_factory=set)
    task_run_ms: list[int] = field(default_factory=list)
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0

    @property
    def tasks(self) -> int:
        return len(self.task_run_ms)

    @property
    def python(self) -> bool:
        return any(p in s for s in self.scopes for p in PYTHON_SCOPES)

    @property
    def skew(self) -> float:
        """Max over median task run time (1.0 for a single task)."""
        if not self.task_run_ms:
            return 1.0
        med = statistics.median(self.task_run_ms)
        return max(self.task_run_ms) / med if med > 0 else 1.0


def parse(path: str) -> list[Stage]:
    """Completed stages in the log at ``path``, in completion order."""
    stage_job: dict[int, tuple[str | None, float | None]] = {}
    stages: dict[int, Stage] = {}
    done: list[int] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, (group, ev.get("Submission Time")))
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                st.task_run_ms.append(m.get("Executor Run Time", 0))
                st.executor_run_ms += m.get("Executor Run Time", 0)
                st.executor_cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope")
                    if scope:
                        st.scopes.add(json.loads(scope).get("name", ""))
                    st.scopes.add(rdd.get("Name", ""))
                done.append(info["Stage ID"])
    out = []
    for sid in dict.fromkeys(done):
        st = stages[sid]
        st.group, st.submitted_ms = stage_job.get(sid, (None, None))
        out.append(st)
    return out


def summarize(stages: list[Stage]) -> dict[str, float]:
    """The per-module Spark execution metrics over ``stages``."""
    return {
        "tasks": sum(s.tasks for s in stages),
        "task_skew": max((s.skew for s in stages if s.tasks > 1), default=1.0),
        "executor_run_s": sum(s.executor_run_ms for s in stages) / 1e3,
        "executor_cpu_s": sum(s.executor_cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "input_rows": sum(s.input_rows for s in stages),
        "python_stage_s": sum(s.executor_run_ms for s in stages if s.python) / 1e3,
    }
