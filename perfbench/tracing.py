"""Tracing for the benchmark's per-layer run.

Two recorders, both attached from outside the program:

- :class:`Py4jCounter` counts py4j round trips at the client, so a
  query build's driver cost shows as calls, not only seconds;
- :func:`read_event_log` parses Spark's uncompressed event log into
  jobs, stages and task totals, which :func:`attribute` assigns to the
  benchmark's op spans by time window. Ops run one at a time, so a
  window identifies its jobs. Job groups are not used: streaming
  replaces the caller's group on micro-batch jobs.

The statistics helpers (:func:`tail`, :func:`union_length`,
:func:`self_time`) are pure functions with their own tests.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field


# --- statistics -------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples
    beyond it: ``(value, percentile, n)``.

    With ``n`` samples sorted ascending, sample ``i`` has ``n - 1 - i``
    samples beyond it, so the answer is sample ``n - 11``, reported as
    percentile ``100 * (n - 10) / n``. Below eleven samples no sample
    qualifies and the smallest one is returned, with its percentile,
    so the record shows how little the figure says.
    """
    if not values:
        raise ValueError("tail() needs at least one sample")
    ordered = sorted(values)
    n = len(ordered)
    i = max(n - 11, 0)
    return ordered[i], 100.0 * (i + 1) / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children]
    return (end - start) - union_length([c for c in clipped if c[1] > c[0]])


# --- py4j -------------------------------------------------------------

# py4j's protocol: "m\n" + "d\n" is the object-release command the
# Python garbage collector sends; its timing follows GC, not the build.
_MEMORY_DELETE = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands sent through a gateway client while active.

    Installed by shadowing ``send_command`` on the client instance, which
    every JavaObject and JavaMember of the gateway calls through.
    """

    def __init__(self, gateway_client):
        self.calls = 0
        self.active = False
        self._lock = threading.Lock()
        self._client = gateway_client
        self._send = gateway_client.send_command
        gateway_client.send_command = self._counted

    def _counted(self, command, *args, **kwargs):
        if self.active and not command.startswith(_MEMORY_DELETE):
            with self._lock:
                self.calls += 1
        return self._send(command, *args, **kwargs)


# --- event log --------------------------------------------------------


@dataclass
class Stage:
    stage_id: int
    start: float
    tasks: int
    parents: list[int]
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int] = field(default_factory=list)


def read_event_log(path: str) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs and executed stages (with task totals) from an event log.

    Times are epoch seconds. A stage that ran more than once (a retry
    attempt) keeps its first attempt's start.
    """
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1e3, float("inf"),
                    list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if sid not in stages:
                    stages[sid] = Stage(
                        sid, info.get("Submission Time", 0) / 1e3,
                        info["Number of Tasks"], list(info.get("Parent IDs", [])),
                    )
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        st = stages.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if st is None or m is None:
            continue
        info = ev["Task Info"]
        run_ms = m["Executor Run Time"]
        st.run_s += run_ms / 1e3
        st.cpu_s += m["Executor CPU Time"] / 1e9
        st.gc_s += m["JVM GC Time"] / 1e3
        wall_ms = info["Finish Time"] - info["Launch Time"]
        st.sched_delay_s += max(
            0,
            wall_ms - run_ms - m["Executor Deserialize Time"]
            - m["Result Serialization Time"]
            - (info["Finish Time"] - info["Getting Result Time"]
               if info["Getting Result Time"] else 0),
        ) / 1e3
        st.failed_tasks += bool(info["Failed"])
        sw = m["Shuffle Write Metrics"]
        st.shuffle_write_bytes += sw["Shuffle Bytes Written"]
        sr = m["Shuffle Read Metrics"]
        st.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        st.output_bytes += m["Output Metrics"]["Bytes Written"]
    return sorted(jobs.values(), key=lambda j: j.start), stages


def attribute(
    jobs: list[Job], stages: dict[int, Stage], start: float, end: float
) -> tuple[list[Job], list[Stage], int]:
    """Jobs submitted in ``[start, end)``, the stages they executed, and
    how many of their listed stages they skipped (already computed by
    an earlier job). A stage belongs to the first window job that lists
    it and ran while that job was running."""
    mine = [j for j in jobs if start <= j.start < end]
    ran: dict[int, Stage] = {}
    skipped = 0
    for job in mine:
        for sid in job.stage_ids:
            st = stages.get(sid)
            if st is not None and sid not in ran and job.start <= st.start <= job.end:
                ran[sid] = st
            else:
                skipped += 1
    return mine, list(ran.values()), skipped
