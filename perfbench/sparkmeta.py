"""Spark's own counters, read from outside the engine.

Each traced operation runs under ``SparkContext.setJobGroup``; the
status tracker maps the group to its jobs, and the application's REST
API (served by the driver UI on localhost) gives per-stage runtime
metrics and per-operator SQL metrics for those jobs.  The REST store is
fed asynchronously by the listener bus, so readers wait until every
job of a group shows as finished.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from calendar import timegm

#: SQL metric of a Python exec node -> the benchmark's counter name
PYTHON_METRICS = {
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "number of output rows": "python.rows",
}

STAGE_COUNTERS = (
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.tasks",
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``'1,137'``, ``'618 ms'``, ``'5.4 KiB'``,
    or the multi-task ``'total (min, med, max ...)\\n2.8 s (...)'``) as
    a number in seconds, bytes or rows."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


def _epoch(stamp: str) -> float:
    # REST times look like 2026-10-17T03:35:02.229GMT
    base, ms = stamp.removesuffix("GMT").split(".")
    return timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000


class SparkCounters:
    """Reads job, stage and SQL metrics of job groups of one
    SparkContext."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _job_records(self, job_ids: list[int], timeout_s: float = 30.0) -> list[dict]:
        deadline = time.monotonic() + timeout_s
        while True:
            records = [self._get(f"/jobs/{j}") for j in job_ids]
            if all(r.get("completionTime") for r in records):
                return records
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs {job_ids} never finished in the UI store")
            time.sleep(0.1)

    def stage_totals(self, group: str, window: tuple[float, float]) -> dict[str, float]:
        """Summed stage counters of the group's jobs, plus the part of
        ``window`` (epoch seconds) during which no stage of the group
        was running (``spark.driver_gap_s``)."""
        totals = dict.fromkeys(STAGE_COUNTERS, 0.0)
        intervals = []
        job_ids = self.jobs(group)
        stage_ids = sorted({s for r in self._job_records(job_ids) for s in r["stageIds"]})
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att.get("status") == "SKIPPED" or not att.get("submissionTime"):
                    continue
                totals["spark.executor_run_s"] += att["executorRunTime"] / 1e3
                totals["spark.executor_cpu_s"] += att["executorCpuTime"] / 1e9
                totals["spark.gc_s"] += att["jvmGcTime"] / 1e3
                totals["spark.shuffle_write_bytes"] += att["shuffleWriteBytes"]
                totals["spark.shuffle_read_bytes"] += att["shuffleReadBytes"]
                totals["spark.spill_bytes"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                totals["spark.tasks"] += att["numCompleteTasks"]
                end = att.get("completionTime")
                intervals.append((_epoch(att["submissionTime"]), _epoch(end) if end else window[1]))
        totals["spark.driver_gap_s"] = (window[1] - window[0]) - _covered(intervals, window)
        totals["spark.jobs"] = len(job_ids)
        return totals

    def python_totals(self, group: str) -> dict[str, float]:
        """Summed metrics of the Python exec nodes (ArrowEvalPython,
        MapInPandas, ...) in the SQL executions that ran the group's
        jobs."""
        job_ids = set(self.jobs(group))
        self._job_records(sorted(job_ids))
        totals = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex["nodes"]:
                if "Python" not in node["nodeName"] and "InPandas" not in node["nodeName"]:
                    continue
                for m in node["metrics"]:
                    if m["name"] in PYTHON_METRICS:
                        totals[PYTHON_METRICS[m["name"]]] += parse_metric(m["value"])
        return totals


def _covered(intervals: list[tuple[float, float]], window: tuple[float, float]) -> float:
    """Length of the union of ``intervals`` clipped to ``window``."""
    lo, hi = window
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered


def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name (field 2) may hold spaces; fields after it don't
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root_pids: list[int]) -> float:
    """CPU seconds (user + system, including reaped children) of the
    given processes and every live descendant: the driver JVM, this
    Python driver and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(entry)[1])
            except (OSError, IndexError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
    ticks, todo, seen = 0, list(root_pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 (index 11-14 here)
        ticks += sum(int(x) for x in f[11:15])
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: time the
    hypervisor gave to other guests, which no process here is charged
    for but which stretches every wall time measured here."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM (peak resident set) of the driver JVM plus this Python
    driver process, in MiB."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        raise ValueError(f"no VmHWM for pid {pid}")

    return (hwm_kb(jvm_pid) + hwm_kb("self")) / 1024
