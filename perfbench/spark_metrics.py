"""Spark's own job, stage and SQL metrics for one session, read from its
monitoring REST API after the timed region and grouped by job group."""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from urllib.parse import urlsplit

# SQL metric names of Spark's Python operators (PythonSQLMetrics).
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """The total of one rendered SQL metric, in seconds or bytes.

    Spark renders ``"<total> <unit>"``, or for per-task metrics
    ``"total (min, med, max ...)\\n<total> <unit> (...)"``."""
    line = text.strip().splitlines()[-1].split()
    value, unit = float(line[0].replace(",", "")), line[1]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value * _SIZE_UNITS[unit]


class SparkMetrics:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urlsplit(sc.uiWebUrl).port
        self._base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self, groups: set[str], timeout: float) -> list[dict]:
        """The jobs of ``groups`` once the status listener has seen them
        all finish (it runs behind the scheduler)."""
        deadline = time.monotonic() + timeout
        last = None
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            done = all(j["status"] != "RUNNING" for j in jobs)
            key = sorted(j["jobId"] for j in jobs)
            if (done and key == last) or time.monotonic() > deadline:
                return jobs
            last = key
            time.sleep(0.3)

    def by_group(self, groups: set[str], timeout: float = 30.0) -> dict[str, dict[str, float]]:
        """Per job group: job, stage and task counts, executor time and
        bytes, and the Python operators' SQL metrics."""
        jobs = self._settled_jobs(groups, timeout)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        owner: dict[int, str] = {}
        stage_owner: dict[int, str] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job["jobGroup"]
            owner[job["jobId"]] = group
            out[group]["jobs"] += 1
            for sid in job["stageIds"]:
                stage_owner.setdefault(sid, group)
        for st in self._get("/stages"):
            group = stage_owner.get(st["stageId"])
            if group is None or st["status"] == "SKIPPED":
                continue
            m = out[group]
            m["stages"] += 1
            m["tasks"] += st["numTasks"]
            m["failed_tasks"] += st["numFailedTasks"]
            m["executor_run_s"] += st["executorRunTime"] / 1e3
            m["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            m["gc_s"] += st["jvmGcTime"] / 1e3
            m["input_bytes"] += st["inputBytes"]
            m["shuffle_read_bytes"] += st["shuffleReadBytes"]
            m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            m["spill_bytes"] += st["diskBytesSpilled"]
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            groups_of = {owner[i] for i in ids if i in owner}
            if len(groups_of) != 1:
                continue
            m = out[groups_of.pop()]
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = PYTHON_METRICS.get(metric["name"])
                    if key is not None:
                        m[key] += parse_metric(metric["value"])
        return {g: dict(v) for g, v in out.items()}
