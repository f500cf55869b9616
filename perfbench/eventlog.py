"""Parser for Spark's JSON event log (``spark.eventLog.enabled``).

Reads job start/end, stage RDD scopes and task-end metrics straight from
the log file: no UI, no history server, no Java. Each job carries the
``perfbench.span`` local property the tracer sets while a traced
function runs, which is how jobs are attributed to modules.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Stage:
    stage_id: int
    job_id: int | None = None
    scopes: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


@dataclass
class Job:
    job_id: int
    start: float
    end: float | None = None
    span: str | None = None
    stage_ids: list = field(default_factory=list)
    succeeded: bool = False


def _scope_names(stage_info: dict) -> set:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        try:
            names.add(json.loads(rdd.get("Scope") or "{}").get("name", ""))
        except ValueError:
            pass
        names.add(rdd.get("Name", ""))
    names.discard("")
    return names


def parse(lines) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages from an iterable of event-log lines. Times are
    epoch seconds; a stage may be listed by several jobs (skipped stages
    of a reused shuffle) and belongs to the first that lists it."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(e["Job ID"], e["Submission Time"] / 1000.0,
                    span=props.get(SPAN_PROPERTY))
            for si in e.get("Stage Infos", []):
                sid = si["Stage ID"]
                j.stage_ids.append(sid)
                st = stages.setdefault(sid, Stage(sid))
                if st.job_id is None:
                    st.job_id = j.job_id
                st.scopes |= _scope_names(si)
            jobs[j.job_id] = j
        elif ev == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j.end = e["Completion Time"] / 1000.0
                j.succeeded = (e.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif ev == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            stages.setdefault(si["Stage ID"], Stage(si["Stage ID"])).scopes |= _scope_names(si)
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out = m.get("Output Metrics") or {}
            st.output_bytes += out.get("Bytes Written", 0)
            st.output_records += out.get("Records Written", 0)
    return jobs, stages


def parse_file(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    with open(path) as fh:
        return parse(fh)
