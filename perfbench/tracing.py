"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files around each call
into the engine (session build, registry ``fn()``, the sink, the
streaming starts) and kept in memory until the run writes them out.
Per-layer counters come from Spark's public monitoring surfaces: the
REST status API (jobs, stages, SQL executions, storage), which needs
the UI server (``SPARK_UI=true``), and ``StreamingQueryProgress``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import time
import urllib.request


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class NullTracer:
    """Stands in for ``Tracer`` on untraced passes."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def rest_ts(s: str) -> float:
    """Epoch seconds of a REST timestamp such as ``2026-08-16T01:33:40.123GMT``."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Rest:
    """Reads the Spark driver's REST status API for one application."""

    def __init__(self, spark):
        self.spark = spark
        self.base = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}"

    def get(self, sub: str):
        # The status store is fed asynchronously from the listener bus;
        # drain it so the last action's metrics are in.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(f"{self.base}/{sub}", timeout=60) as r:
            return json.load(r)

    def storage(self) -> tuple[int, int]:
        """(bytes held by cached relations, number of cached relations)."""
        rdds = self.get("storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds), len(rdds)


# SQL plan nodes that run Python workers (Arrow / pandas UDFs).
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _metric_total(value: str) -> float | None:
    """Total of a SQL-node metric string ("1,234", or "total (min, med,
    max ...)\\n3.2 s (...)"), time values in seconds."""
    lines = value.strip().splitlines()
    m = re.match(r"\s*([\d,.]+)\s*(ns|ms|s|m|h)?\b", lines[-1] if lines else "")
    if not m:
        return None
    x = float(m.group(1).replace(",", ""))
    return x * _UNIT_S[m.group(2)] if m.group(2) else x


def fold_exec(jobs: list[dict], stages: dict[int, dict], cores: int) -> dict[str, float]:
    """Fold REST jobs (and their completed stages) into the ``exec.*``
    and ``io.*`` per-layer counters."""
    st = [stages[s] for j in jobs for s in j.get("stageIds", []) if s in stages]
    wall = union_s([(rest_ts(j["submissionTime"]), rest_ts(j["completionTime"]))
                    for j in jobs if j.get("completionTime")])
    task_s = sum(s.get("executorRunTime", 0) for s in st) / 1e3
    return {
        "exec.s": wall,
        "exec.jobs": len(jobs),
        "exec.stages": len(st),
        "exec.tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "exec.task_s": task_s,
        "exec.core_util": task_s / (wall * cores) if wall else 0.0,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
        "exec.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
        "exec.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in st),
        "exec.shuffle_fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in st) / 1e3,
        "exec.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st),
        "exec.peak_exec_mem_bytes": max((s.get("peakExecutionMemory", 0) for s in st), default=0),
        "io.input_bytes": sum(s.get("inputBytes", 0) for s in st),
        "io.input_records": sum(s.get("inputRecords", 0) for s in st),
        "io.scan_task_s": sum(s.get("executorRunTime", 0) for s in st if s.get("inputBytes", 0)) / 1e3,
        "io.output_bytes": sum(s.get("outputBytes", 0) for s in st),
    }


def fold_python(executions: list[dict], job_ids: set[int]) -> dict[str, float]:
    """Rows out of, and time spent in, Python-worker plan nodes of the
    SQL executions that ran any of ``job_ids``."""
    rows = secs = 0.0
    for ex in executions:
        ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ids & job_ids:
            continue
        for node in ex.get("nodes", []):
            if not PYTHON_NODE.search(node.get("nodeName", "")):
                continue
            for m in node.get("metrics", []):
                v = _metric_total(m.get("value", ""))
                if v is None:
                    continue
                if m["name"] == "number of output rows":
                    rows += v
                elif m["name"] == "time to run Python workers":
                    secs += v
    return {"python.rows": rows, "python.exec_s": secs}


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile of sorted, non-empty ``xs``."""
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def engine_pids(spark) -> list[int]:
    """This Python process and the Spark driver JVM it launched."""
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]
