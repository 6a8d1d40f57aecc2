"""Read an uncompressed Spark event log into per-job counters.

Jobs are attributed to statements by time window (the benchmark loop
is serial): a job belongs to the window its submission time falls in.
That also catches jobs whose job group was lost, such as collects
submitted from a worker thread during rewrite construction.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

#: Physical operators that run Python (the Arrow seams); their RDDs
#: carry the operator name as their scope.
_PYTHON_EXEC = re.compile(r"Pandas|Arrow|Python", re.IGNORECASE)


@dataclass
class StageStats:
    wall_ms: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    max_task_ms: float = 0.0
    python: bool = False  # runs a Python operator (an Arrow seam)


@dataclass
class JobStats:
    submit_ms: float
    stages: list[int] = field(default_factory=list)


def parse(path: str) -> tuple[dict[int, JobStats], dict[int, StageStats]]:
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = JobStats(ev["Submission Time"], list(ev["Stage IDs"]))
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats())
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.tasks += 1
                st.max_task_ms = max(st.max_task_ms, info["Finish Time"] - info["Launch Time"])
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], StageStats())
                if si.get("Submission Time") and si.get("Completion Time"):
                    st.wall_ms = si["Completion Time"] - si["Submission Time"]
                for rdd in si.get("RDD Info", []):
                    scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
                    st.python = st.python or bool(_PYTHON_EXEC.search(scope))
    return jobs, stages


def jobs_in(jobs: dict[int, JobStats], windows: list[tuple[float, float]]) -> list[int]:
    """Ids of the jobs submitted inside any ``(start_ms, end_ms)``
    window."""
    out = []
    for jid, job in jobs.items():
        if any(lo <= job.submit_ms <= hi for lo, hi in windows):
            out.append(jid)
    return out
