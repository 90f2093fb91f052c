"""Spans and per-layer counters read from outside the engine.

The traced run tags every engine call with a Spark job group, then, after
the operation returns, reads the driver's status REST API (jobs, stages,
task summaries, SQL node metrics) for that group. Reading after each
operation keeps the UI's retention limits from dropping a job. Spans live
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from datetime import datetime
from urllib.parse import urlparse

GROUP_PREFIX = "perfbench"

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
FILES_READ = "number of files read"
FILES_WRITTEN = "number of written files"


def metric_value(text: str) -> float:
    """SQL metric string -> seconds, bytes or a count.

    Accepts both the plain form ("161 ms", "54.3 KiB", "1,234") and the
    per-task form whose total sits on the line after the header."""
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Job groups, spans and REST reads for one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        ui = urlparse(sc.uiWebUrl)
        self.base = f"http://localhost:{ui.port}/api/v1/applications/{sc.applicationId}"
        self.spans: list[dict] = []
        self.read_s = 0.0  # wall spent reading the REST API and keeping spans
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def span(self, name: str, start: float, end: float, parent: int | None, op: str) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "op": op})
        return len(self.spans) - 1

    def tag(self, op: str, phase: str) -> None:
        self.sc.setJobGroup(f"{GROUP_PREFIX}:{op}:{phase}", f"{op} {phase}", False)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def cached_bytes(self) -> float:
        t0 = time.time()
        rdds = self._get("/storage/rdd")
        self.read_s += time.time() - t0
        return float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds))

    def read_op(self, op: str, phase_spans: dict[str, int]) -> dict[str, float]:
        """Counters for every job the op's groups submitted; adds job spans
        under the phase span that submitted each job."""
        t0 = time.time()
        c: dict[str, float] = defaultdict(float)
        by_phase: dict[str, list[dict]] = defaultdict(list)
        for job in self._get("/jobs"):
            group = job.get("jobGroup") or ""
            parts = group.split(":")
            if len(parts) == 3 and parts[0] == GROUP_PREFIX and parts[1] == op:
                by_phase[parts[2]].append(job)
        job_ids = set()
        stages_by_job: dict[int, list[dict]] = {}
        for phase, jobs in by_phase.items():
            parent = phase_spans.get(phase)
            intervals = []
            for job in jobs:
                job_ids.add(job["jobId"])
                start, end = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
                if start is not None and end is not None:
                    self.span("spark.job", start, end, parent, op)
                    intervals.append((start, end))
                atts = []
                for sid in job.get("stageIds", []):
                    for att in self._get(f"/stages/{sid}"):
                        if att.get("status") in ("COMPLETE", "FAILED"):
                            atts.append(att)
                stages_by_job[job["jobId"]] = atts
            c[f"{phase}.jobs"] += len(jobs)
            if parent is not None and intervals:
                s = self.spans[parent]
                c[f"{phase}.job_cover_s"] += covered((s["start"], s["end"]), intervals)
            for job in jobs:
                for att in stages_by_job[job["jobId"]]:
                    c[f"{phase}.executor_run_s"] += att.get("executorRunTime", 0) / 1e3
        seen_stage = set()
        longest = None
        for atts in stages_by_job.values():
            for att in atts:
                key = (att["stageId"], att["attemptId"])
                if key in seen_stage:
                    continue
                seen_stage.add(key)
                c["stages"] += 1
                c["tasks"] += att.get("numCompleteTasks", 0)
                c["executor_run_s"] += att.get("executorRunTime", 0) / 1e3
                c["executor_cpu_s"] += att.get("executorCpuTime", 0) / 1e9
                c["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                c["shuffle_write_bytes"] += att.get("shuffleWriteBytes", 0)
                c["shuffle_read_bytes"] += att.get("shuffleReadBytes", 0)
                c["shuffle_fetch_wait_s"] += att.get("shuffleFetchWaitTime", 0) / 1e3
                c["spill_bytes"] += att.get("diskBytesSpilled", 0)
                c["bytes_read"] += att.get("inputBytes", 0)
                c["input_records"] += att.get("inputRecords", 0)
                c["output_bytes"] += att.get("outputBytes", 0)
                if longest is None or att.get("executorRunTime", 0) > longest.get("executorRunTime", 0):
                    longest = att
        if longest is not None and longest.get("numCompleteTasks", 0) > 0:
            summ = self._get(f"/stages/{longest['stageId']}/{longest['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")
            med, top = summ.get("executorRunTime", [0, 0])
            c["longest_stage_run_s"] = longest.get("executorRunTime", 0) / 1e3
            c["task_skew"] = top / med if med > 0 else 1.0
        self._read_sql(job_ids, stages_by_job, c)
        self.read_s += time.time() - t0
        return dict(c)

    def _read_sql(self, job_ids: set, stages_by_job: dict, c: dict) -> None:
        execs = self._get(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=10000")
        self._sql_seen += len(execs)
        for ex in execs:
            ex_jobs = set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                          + ex.get("runningJobIds", []))
            if not ex_jobs & job_ids:
                continue
            has_python = False
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if PY_RUN in metrics or PY_SENT in metrics:
                    has_python = True
                    c["py_run_s"] += metric_value(metrics.get(PY_RUN, "0"))
                    c["py_start_s"] += sum(metric_value(metrics.get(k, "0")) for k in PY_START)
                    c["py_bytes_sent"] += metric_value(metrics.get(PY_SENT, "0"))
                    c["py_bytes_returned"] += metric_value(metrics.get(PY_RETURNED, "0"))
                c["files_read"] += metric_value(metrics.get(FILES_READ, "0"))
                c["files_written"] += metric_value(metrics.get(FILES_WRITTEN, "0"))
            if has_python:
                c["python_nodes"] += 1
                for jid in ex_jobs & job_ids:
                    for att in stages_by_job.get(jid, []):
                        c["offcpu_s"] += (att.get("executorRunTime", 0) / 1e3
                                          - att.get("executorCpuTime", 0) / 1e9)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - covered((s["start"], s["end"]), children[s["id"]])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
