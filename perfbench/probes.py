"""Measurements taken from outside the program: ``/proc`` readings of the
JVM's Python worker processes, and per-job-group Spark metrics read from
the driver's own status REST API on localhost.

Nothing here touches library code; the benchmark tags each call with a
Spark job group and reads what Spark recorded for that group afterwards.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.parse
import urllib.request

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- /proc ------------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # The command name (field 2) may hold spaces; split after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def python_workers(root_pid: int) -> list[int]:
    """The pyspark daemon and the workers it forked, below ``root_pid``."""
    pids = []
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd:  # the daemon's forks keep its cmdline
            pids.append(pid)
    return pids


def worker_cpu_s(pids: list[int]) -> float:
    """utime+stime of the workers plus that of their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # After the ')' split: utime, stime, cutime, cstime are 11..14.
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def worker_rss_mb(pids: list[int]) -> float:
    """Sum of each worker's peak resident set (``VmHWM``), in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# --- Spark status REST API ----------------------------------------------------

SPARK_LAYER_KEYS = ("jobs", "tasks", "executor_run_s", "jvm_gc_s", "shuffle_write_mb",
                    "shuffle_fetch_wait_s", "spill_mb", "task_max_over_median")


class SparkStatus:
    """Reads the driver's ``/api/v1`` for the jobs of one job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        port = urllib.parse.urlparse(self._sc.uiWebUrl).port
        self._base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                      f"{self._sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def _settle(self, group: str, timeout_s: float = 30.0) -> list[dict]:
        """The group's jobs, once the status store has seen them finish (the
        listener bus updates it asynchronously after an action returns)."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of group {group} did not finish in the status store")
            time.sleep(0.05)

    def group_metrics(self, groups: list[str]) -> dict[str, float]:
        """Summed Spark task metrics over every job of ``groups``."""
        jobs = [j for g in groups for j in self._settle(g)]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids
                  and s["status"] in ("COMPLETE", "FAILED")]
        out = {
            "jobs": float(len(jobs)),
            "tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "jvm_gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 2**20,
            "task_max_over_median": 1.0,
        }
        # Straggler ratio of the stage that ran longest in total: the stage
        # whose slowest task most likely sets the wall.
        multi = [s for s in stages if s["numCompleteTasks"] >= 2]
        if multi:
            top = max(multi, key=lambda s: s["executorRunTime"])
            summary = self._get(f"/stages/{top['stageId']}/{top['attemptId']}"
                                "/taskSummary?quantiles=0.5,1.0")
            med, mx = summary["executorRunTime"]
            out["task_max_over_median"] = mx / med if med > 0 else 1.0
        return out


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over a list of same-keyed dicts."""
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
