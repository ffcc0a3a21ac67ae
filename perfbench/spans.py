"""In-memory span recorder and Spark event-log attribution.

Spans are recorded by the benchmark around its calls into the engine's
public functions (name, start, end, parent, request id) and written out
once, when the run ends.  Spark work comes from the event log, which the
traced run enables from outside through ``get_spark(extra_conf=...)``:
each job is attributed to the innermost span whose interval contains the
job's submission time.  Job groups are not used: jobs launched from the
build's stage-B/C thread pool carry no job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# event-log accumulables summed per stage
_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "scan_b",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_b",
    "internal.metrics.output.bytesWritten": "output_b",
    "internal.metrics.memoryBytesSpilled": "spill_mem_b",
    "internal.metrics.diskBytesSpilled": "spill_disk_b",
    "time to run Python workers": "python_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "arrow_in_b",
    "data returned from Python workers": "arrow_out_b",
}
FIELDS = tuple(_ACC.values()) + ("tasks",)


class Tracer:
    """Span stack: ``with tracer.span(name):`` records one span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": req,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # the Spark 4 default codec is zstd, which this Python cannot read
        "spark.eventLog.compress": "false",
        # Spark 4 rolls the log into a directory by default; one file
        # is all read_jobs has to read
        "spark.eventLog.rolling.enabled": "false",
    }


def read_jobs(log_dir: str) -> list[dict]:
    """[{id, start, end, tasks, run_ms, cpu_ns, ...}] from the one
    (non-rolling) event log file under ``log_dir``; times in epoch seconds."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {"id": jid, "start": e["Submission Time"] / 1000.0,
                             "end": None, "stages": e["Stage IDs"]}
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                agg = {k: 0.0 for k in FIELDS}
                agg["tasks"] = float(si.get("Number of Tasks", 0))
                for a in si.get("Accumulables", []):
                    key = _ACC.get(a.get("Name"))
                    if key is not None and a.get("Value") is not None:
                        agg[key] += float(a["Value"])
                stages[si["Stage ID"]] = agg
    out = []
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
        agg = {k: 0.0 for k in FIELDS}
        for sid in j["stages"]:
            for k, v in stages.get(sid, {}).items():
                agg[k] += v
        j.update(agg)
        out.append(j)
    return sorted(out, key=lambda j: j["start"])


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs whose submission falls inside it, innermost span
    first; a span's list includes the jobs of its descendants."""
    by_span: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        inner = None
        for s in spans:
            if s["start"] <= j["start"] <= (s["end"] or s["start"]):
                if inner is None or s["start"] >= inner["start"]:
                    inner = s
        j["span"] = inner["id"] if inner else None
        s = inner
        while s is not None:
            by_span[s["id"]].append(j)
            s = spans[s["parent"]] if s["parent"] is not None else None
    return by_span


def summarize(span: dict, jobs: list[dict]) -> dict:
    """Spark work of one span: job count, driver gap (wall minus the union
    of job intervals), and summed task metrics in seconds / MB."""
    wall = span["end"] - span["start"]
    covered, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        s, e = max(j["start"], span["start"]), min(j["end"], span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    tot = {k: sum(j[k] for j in jobs) for k in FIELDS}
    mb = 1e-6
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "tasks": tot["tasks"],
        "driver_gap_s": max(0.0, wall - covered),
        "python_s": tot["python_ms"] / 1000.0,
        "python_init_s": tot["python_init_ms"] / 1000.0,
        "gc_s": tot["gc_ms"] / 1000.0,
        "cpu_share": (tot["cpu_ns"] / 1e6) / tot["run_ms"] if tot["run_ms"] else 0.0,
        "scan_mb": tot["scan_b"] * mb,
        "shuffle_mb": tot["shuffle_b"] * mb,
        "output_mb": tot["output_b"] * mb,
        "spill_mb": (tot["spill_mem_b"] + tot["spill_disk_b"]) * mb,
        "arrow_mb_in": tot["arrow_in_b"] * mb,
        "arrow_mb_out": tot["arrow_out_b"] * mb,
    }
