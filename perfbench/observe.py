"""Measurement helpers: percentiles, job-span arithmetic, Spark UI REST
reads, peak RSS sampling and host state.  Nothing here changes what the
engine does; everything reads from outside it."""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import threading
import time
import urllib.request
from datetime import datetime, timezone


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, beyond: int = 10):
    """The highest percentile that still has `beyond` samples above it.

    Returns (percentile, value): with n sorted samples the value is the one
    at 0-based rank n-1-beyond, and the percentile is the share of samples
    at or below it.  Raises ValueError when there are not enough samples."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    ranked = sorted(samples)
    k = n - 1 - beyond
    return 100.0 * (k + 1) / n, float(ranked[k])


def union_seconds(spans, lo: float, hi: float) -> float:
    """Length of the union of (start, end) spans clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under path, ignoring checksum side files."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


# ---------------------------------------------------------------------------
# Spark UI REST API
# ---------------------------------------------------------------------------

def _ui_time(s: str) -> float:
    # e.g. "2026-10-16T18:04:05.123GMT"
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")


class SparkUI:
    """Reads jobs, stages, tasks and SQL metrics of the running application
    from its UI REST API.  Spans are wall-clock epoch seconds."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, lo: float, hi: float, settle_s: float = 5.0) -> list[dict]:
        """Jobs submitted within [lo, hi], waiting (bounded) until the
        status store shows all of them ended."""
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self.get("/jobs")
                    if "submissionTime" in j
                    and lo <= _ui_time(j["submissionTime"]) <= hi]
            if all("completionTime" in j for j in jobs) \
                    or time.time() > deadline:
                break
            time.sleep(0.1)
        for j in jobs:
            j["_start"] = _ui_time(j["submissionTime"])
            j["_end"] = _ui_time(j.get("completionTime",
                                       j["submissionTime"]))
        return jobs

    def job_stats(self, lo: float, hi: float) -> dict:
        """jobs, job durations and driver gap (wall minus the union of job
        spans) for the window [lo, hi]."""
        jobs = self.jobs(lo, hi)
        spans = [(j["_start"], j["_end"]) for j in jobs]
        return {
            "jobs": len(jobs),
            "job_ms": [1000.0 * (e - s) for s, e in spans],
            "stage_ids": sorted({s for j in jobs for s in j["stageIds"]}),
            "driver_gap_s": (hi - lo) - union_seconds(spans, lo, hi),
        }

    def stages(self, stage_ids) -> list[dict]:
        wanted = set(stage_ids)
        return [s for s in self.get("/stages")
                if s["stageId"] in wanted and s["status"] == "COMPLETE"]

    def task_run_ms(self, stage: dict) -> list[float]:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         f"/taskList?length=100000")
        return [float(t["taskMetrics"]["executorRunTime"]) for t in tasks
                if t.get("status") == "SUCCESS"]

    def executor_stats(self, stage_ids) -> dict:
        st = self.stages(stage_ids)
        mb = 1 << 20
        out = {
            "stages": len(st),
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / mb,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / mb,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in st) / mb,
            "input_mb": sum(s["inputBytes"] for s in st) / mb,
            "output_mb": sum(s["outputBytes"] for s in st) / mb,
            "task_skew": 1.0,
        }
        if st:
            longest = max(st, key=lambda s: s["executorRunTime"])
            runs = self.task_run_ms(longest)
            if runs and median(runs) > 0:
                out["task_skew"] = max(runs) / median(runs)
        return out

    def python_mb(self, lo: float, hi: float) -> tuple[float, float]:
        """(MiB sent to, MiB returned from) Python workers by SQL executions
        submitted within [lo, hi]."""
        sent = returned = 0.0
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&length=100000"):
            t = ex.get("submissionTime")
            if not t or not lo <= _ui_time(t) <= hi:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += _total_bytes(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        returned += _total_bytes(m["value"])
        return sent / (1 << 20), returned / (1 << 20)


def _total_bytes(value: str) -> float:
    """A UI size metric reads '<total> (<min>, <med>, <max> ...)' or just
    '<total>'; take the first size."""
    m = _SIZE_RE.search(value)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def cached_frames(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


# ---------------------------------------------------------------------------
# Peak RSS of the driver JVM and its Python workers
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of `root` (not root itself)."""
    kids = _children()
    todo = list(kids.get(root, []))
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process's descendants (the driver JVM and
    the Python workers it forks) on a thread; `peak_mb` after `stop`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while True:
            self.peak = max(self.peak, descendants_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------------------
# Host state
# ---------------------------------------------------------------------------

def vmstat_fields(text: str) -> dict[str, int]:
    """Last sample of `vmstat` output, keyed by the header row's names."""
    lines = [ln.split() for ln in text.strip().splitlines()]
    header = next(ln for ln in lines if "id" in ln and "us" in ln)
    return dict(zip(header, map(int, lines[-1])))


def host_state() -> dict:
    out: dict = {"nproc": os.cpu_count()}
    try:
        vm = subprocess.run(["vmstat", "1", "2"], capture_output=True,
                            text=True, timeout=10)
        fields = vmstat_fields(vm.stdout)
        out["idle_pct"] = fields.get("id")
        out["steal_pct"] = fields.get("st")
    except (OSError, subprocess.SubprocessError, StopIteration, ValueError):
        out["vmstat"] = "unavailable"
    with open("/proc/loadavg") as f:
        out["loadavg"] = [float(x) for x in f.read().split()[:3]]
    return out
