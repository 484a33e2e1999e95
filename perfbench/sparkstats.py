"""Spark counters read from outside the program.

Two sources, neither of which needs a change to the program:

- ``statusTracker`` job ids per job group (the job-group diff);
- the driver's local REST API (``/api/v1``) for stage task times,
  shuffle bytes and the SQL metrics of the MapInPandas node, including
  the bytes sent to the Python workers.

The REST store is filled by an asynchronous listener, so every read
polls until the jobs of the group it asks about have all finished.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from datetime import datetime

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
               "TiB": 1024**4}


def parse_size(value: str) -> float:
    """A SQL size metric as the REST API prints it → bytes.

    Accumulated metrics read ``"total (min, med, max ...)\\n13.8 KiB (...)"``;
    single ones read ``"236.0 B"``. The total is the first size after
    the optional header line.
    """
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([0-9.,]+)\s*([KMGT]?i?B)", text)
    if not m:
        raise ValueError(f"unparsable size metric {value!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def parse_count(value: str) -> int:
    return int(value.replace(",", "").strip())


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


class SparkStats:
    """Reads one application's job, stage and SQL data over REST."""

    def __init__(self, spark, timeout_s: float = 20.0):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.timeout_s = timeout_s

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def group_job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def group_jobs(self, group: str) -> list[dict]:
        """REST job records of ``group`` once all have finished."""
        want = set(self.group_job_ids(group))
        deadline = time.monotonic() + self.timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = len(jobs) == len(want) and all(
                j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done or time.monotonic() > deadline:
                return jobs
            time.sleep(0.1)

    def group_stages(self, group: str) -> list[dict]:
        """Completed stage records run by the jobs of ``group``. The
        listener handles a stage's end before its job's end, so once
        the jobs read finished their stages are in the store."""
        ids = {s for j in self.group_jobs(group) for s in j["stageIds"]}
        return [s for s in self._get("/stages?status=complete")
                if s["stageId"] in ids]

    def counts(self, group: str) -> dict[str, int]:
        """Jobs, stages that ran, and tasks that ran, for ``group``."""
        jobs = self.group_jobs(group)
        return {
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] for j in jobs),
            "tasks": sum(j["numCompletedTasks"] for j in jobs),
        }

    def shuffle_write_bytes(self, group: str) -> int:
        return sum(s["shuffleWriteBytes"] for s in self.group_stages(group))

    def busiest_stage(self, group: str, cores: int) -> dict[str, float]:
        """Task skew and busy share of the group's stage with the most
        executor run time (the OCR stage, in an OCR group)."""
        stages = self.group_stages(group)
        st = max(stages, key=lambda s: s["executorRunTime"])
        tasks = self._get(
            f"/stages/{st['stageId']}/{st['attemptId']}/taskList"
            "?length=100000")
        times = [t["duration"] for t in tasks if t["status"] == "SUCCESS"]
        wall = _ts(st["completionTime"]) - _ts(st["firstTaskLaunchedTime"])
        med = statistics.median(times)
        return {
            "task_skew": max(times) / med if med else 1.0,
            "busy_share": (sum(times) / 1000.0) / (cores * wall)
            if wall > 0 else 1.0,
        }

    def python_bytes_per_row(self, group: str) -> float:
        """Bytes sent to Python workers per MapInPandas input row, over
        the SQL executions that ran the group's jobs. An execution's
        metrics are final once it reads COMPLETED, which can lag its
        last job's end."""
        job_ids = set(self.group_job_ids(group))
        deadline = time.monotonic() + self.timeout_s
        while True:
            execs = [ex for ex in
                     self._get("/sql?details=true&planDescription=false"
                               "&length=100000")
                     if job_ids & set(ex.get("successJobIds", [])
                                      + ex.get("failedJobIds", []))]
            if execs and all(ex["status"] != "RUNNING" for ex in execs) or \
                    time.monotonic() > deadline:
                break
            time.sleep(0.1)
        sent = rows = 0.0
        for ex in execs:
            for node in ex["nodes"]:
                if node["nodeName"] != "MapInPandas":
                    continue
                m = {x["name"]: x["value"] for x in node["metrics"]}
                if "data sent to Python workers" in m:
                    sent += parse_size(m["data sent to Python workers"])
                    rows += parse_count(m.get("number of output rows", "0"))
        return sent / rows if rows else 0.0
