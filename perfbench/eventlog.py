"""A stdlib parser for Spark's JSON event log.

Reads the uncompressed event log a traced run writes and returns one
record per job: its op tag (the ``perfbench.op`` local property a traced
run sets), its wall interval, and the sums of its tasks' metrics.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

OP_PROPERTY = "perfbench.op"


def event_log_conf(trace_dir: str) -> dict[str, str]:
    """Spark settings that write the event log to ``trace_dir/eventlog``
    in the form ``read_jobs`` parses."""
    log_dir = os.path.join(trace_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4 compresses with zstd by default; stay readable by this
        # stdlib parser
        "spark.eventLog.compress": "false",
        # one plain file per application, not Spark 4's rolling directory
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    job_id: int
    op: str | None
    submit_ms: int
    end_ms: int = -1
    ok: bool = False
    tasks: int = 0
    executor_cpu_ns: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0


def event_log_file(directory: str) -> str:
    """The one finished application log in ``directory`` (a log still named
    ``.inprogress`` was not closed by ``SparkContext.stop``)."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    done = [n for n in names if not n.endswith(".inprogress")]
    if len(done) != 1:
        raise ValueError(f"expected one finished event log in {directory}, found {names}")
    return os.path.join(directory, done[0])


def parse(lines) -> list[Job]:
    """Jobs from event-log lines, in submission order."""
    jobs: dict[int, Job] = {}
    # stage id -> (submit time, job id) of each job that lists the stage; a
    # task belongs to the latest such job submitted before it launched
    stage_jobs: dict[int, list[tuple[int, int]]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = Job(jid, props.get(OP_PROPERTY), ev["Submission Time"])
            for sid in ev.get("Stage IDs", ()):
                stage_jobs.setdefault(sid, []).append((ev["Submission Time"], jid))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                job.ok = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            launch = ev.get("Task Info", {}).get("Launch Time", 0)
            owners = [
                (t, j) for t, j in stage_jobs.get(ev["Stage ID"], ()) if t <= launch
            ]
            if not owners:
                continue
            job = jobs[max(owners)[1]]
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_cpu_ns += m.get("Executor CPU Time", 0)
            job.executor_run_ms += m.get("Executor Run Time", 0)
            job.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
    return [jobs[k] for k in sorted(jobs)]


def read_jobs(directory: str) -> list[Job]:
    with open(event_log_file(directory)) as f:
        return parse(f)

