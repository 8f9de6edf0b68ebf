"""Spans, counters, Spark status and process-tree memory for the benchmark.

Spans are recorded around the benchmark's own calls into each layer of the
engine; nothing inside the engine is instrumented.  A disabled tracer makes
``span`` a no-op, so the untraced run pays nothing for it.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) plus counters.

    While a span is open on a thread, Spark jobs submitted from that thread
    carry the span's job group ``<trace id>|<span id>|<name>``, so stage
    metrics can be attributed to the layer afterwards."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = {
            "name": name, "trace_id": trace_id, "span_id": sid,
            "parent_id": parent["span_id"] if parent else None,
            "group": f"{trace_id}|{sid}|{name}",
            "start": time.perf_counter() - self._t0, "end": None,
        }
        stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self._t0
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(span)

    def add_span(self, name: str, trace_id: str, parent_id: int | None,
                 start_epoch: float, end_epoch: float) -> None:
        """Record a span measured elsewhere (e.g. a Spark job's own start
        and end), on this tracer's clock."""
        with self._lock:
            self.spans.append({
                "name": name, "trace_id": trace_id, "span_id": next(self._ids),
                "parent_id": parent_id, "group": None,
                "start": start_epoch - self._epoch0, "end": end_epoch - self._epoch0,
            })

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[key] += value

    def self_seconds(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent_id"] is not None:
                children[s["parent_id"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            for iv in _union((c["start"], c["end"]) for c in children[s["span_id"]]):
                covered += iv[1] - iv[0]
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({k: v for k, v in s.items() if k != "group"}) + "\n")


def _union(intervals):
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


class SparkStatus:
    """Job/stage/SQL metrics from the driver's status REST endpoint
    (always on this host; the URL's host part is replaced by 127.0.0.1)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = re.search(r":(\d+)/?$", sc.uiWebUrl or "")
        if port is None:
            raise RuntimeError("Spark UI is disabled; the traced run needs its status endpoint")
        self.base = f"http://127.0.0.1:{port.group(1)}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished job to
        the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        self.drain()
        jobs = self._get("/jobs")
        stages = {
            s["stageId"]: s for s in self._get("/stages")
            if s.get("status") != "SKIPPED"
        }
        sql = self._get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        return {"jobs": jobs, "stages": stages, "sql": sql}


def job_span(job: dict) -> tuple[float, float] | None:
    """(start, end) of one Spark job as epoch seconds, from the status
    endpoint's timestamps ("2026-01-01T00:00:00.000GMT")."""
    def parse(s: str) -> float:
        return dt.datetime.strptime(
            s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    if not job.get("submissionTime") or not job.get("completionTime"):
        return None
    return parse(job["submissionTime"]), parse(job["completionTime"])


def job_seconds(job: dict) -> float:
    """Wall time of one Spark job."""
    span = job_span(job)
    return span[1] - span[0] if span else 0.0


def group_metrics(snap: dict, match) -> dict[str, float]:
    """Summed job and stage metrics over the jobs whose group string
    satisfies the predicate ``match``."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") and match(j["jobGroup"])]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    st = [snap["stages"][s] for s in stage_ids if s in snap["stages"]]
    job_ids = {j["jobId"] for j in jobs}
    files = 0.0
    for ex in snap["sql"]:
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & job_ids:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "number of files read":
                    files += _metric_number(m["value"])
    return {
        "jobs": len(jobs),
        "job_s": sum(job_seconds(j) for j in jobs),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in st) / 1000.0,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1000.0,
        "input_bytes": sum(s.get("inputBytes", 0) for s in st),
        "input_records": sum(s.get("inputRecords", 0) for s in st),
        "output_bytes": sum(s.get("outputBytes", 0) for s in st),
        "output_records": sum(s.get("outputRecords", 0) for s in st),
        "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
        "files_read": files,
    }


def _metric_number(value: str) -> float:
    """First number of a rendered SQL metric ("3", or "total (...)\\n3 (...)")."""
    line = value.strip().splitlines()[-1] if "\n" in value else value
    m = re.search(r"-?[\d,]+(\.\d+)?", line)
    return float(m.group(0).replace(",", "")) if m else 0.0


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    descendant still alive: driver Python, JVM and Python workers."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
