"""Spans recorded around the calls into each layer, and the Spark event log.

The benchmark records its own spans (setup, pass, query, build, execute)
with a parent link. Spark job, stage and task metrics come from the event
log, which the traced run switches on from outside the program. A job is
attributed to the query whose span contains its submission time: one
client runs one query at a time, so that attribution is exact. The job
group each query is tagged with (``workload:query:pass``) is not used for
it, because jobs submitted from a foreachBatch callback run on a py4j
thread that carries no group or a stale one from an earlier query.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory; ``dump`` writes them out at the end of a run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.time(),
            "attrs": attrs,
        }
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class Job:
    __slots__ = (
        "submit", "end", "tasks", "failed", "run_s", "cpu_s",
        "gc_s", "shuffle_write_b", "fetch_wait_s", "spill_b", "input_b",
        "input_run_s", "output_b",
    )

    def __init__(self, submit: float) -> None:
        self.submit = submit
        self.end = submit
        self.tasks = self.failed = 0
        self.run_s = self.cpu_s = self.gc_s = self.fetch_wait_s = 0.0
        self.input_run_s = 0.0
        self.shuffle_write_b = self.spill_b = self.input_b = self.output_b = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs of one application with their task metrics summed."""
    jobs: dict[int, Job] = {}
    stage_jobs: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Submission Time"] / 1e3)
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_jobs[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_jobs.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                job.tasks += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    job.failed += 1
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1e3
                job.run_s += run_s
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.spill_b += m.get("Disk Bytes Spilled", 0)
                job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.fetch_wait_s += (m.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0
                ) / 1e3
                read_b = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job.input_b += read_b
                if read_b:
                    job.input_run_s += run_s
                job.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return list(jobs.values())


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


LAYER_FIELDS = (
    "build_s", "driver_s", "execute_s", "jobs", "tasks", "executor_cpu_s",
    "shuffle_write_mb", "gc_s",
)


def layer_metrics(
    spans: list[dict], jobs: list[Job], pass_idx: int, layer_of: dict[str, str]
) -> tuple[dict[str, dict[str, float]], list[Job]]:
    """Per-layer figures for one pass, and the jobs that pass ran.

    ``layer_of`` maps a query name to its layer."""
    queries = [
        s for s in spans if s["name"] == "query" and s["attrs"]["pass"] == pass_idx
    ]
    out: dict[str, dict[str, float]] = {}
    pass_jobs: list[Job] = []
    for q in queries:
        name = q["attrs"]["query"]
        kids = {s["name"]: s for s in spans if s["parent"] == q["id"]}
        build, execute = kids.get("build"), kids.get("execute")
        mine = [j for j in jobs if q["start"] <= j.submit <= q["end"]]
        pass_jobs.extend(mine)
        m = out.setdefault(layer_of[name], dict.fromkeys(LAYER_FIELDS, 0.0))
        if build is not None:
            in_build = [
                (max(j.submit, build["start"]), min(j.end, build["end"]))
                for j in mine
                if j.submit <= build["end"]
            ]
            m["build_s"] += build["dur"]
            m["driver_s"] += build["dur"] - covered(in_build)
        if execute is not None:
            m["execute_s"] += execute["dur"]
        m["jobs"] += len(mine)
        m["tasks"] += sum(j.tasks for j in mine)
        m["executor_cpu_s"] += sum(j.cpu_s for j in mine)
        m["shuffle_write_mb"] += sum(j.shuffle_write_b for j in mine) / 2**20
        m["gc_s"] += sum(j.gc_s for j in mine)
    return out, pass_jobs
