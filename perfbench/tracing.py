"""Span recording and Spark status-store reads for the traced run.

Spans are kept in memory and written out when the run ends. Every span
has a name, a kind, a start and an end (epoch seconds, the clock Spark's
status store also uses in local mode) and the id of the span that caused
it. Job and stage spans come from Spark's own status store through the
UI REST API, attributed to a query by the job group the benchmark sets
before each call.
"""

from __future__ import annotations

import calendar
import json
import re
import time
import urllib.request


class Spans:
    """In-memory span tree: run → pass|batch → query → build|collect|
    sink → job → stage."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.items)
        self.items.append({"id": sid, "parent": parent, "name": name,
                           "kind": kind, "start": start, "end": end,
                           **attrs})
        return sid

    def close(self, sid: int, end: float) -> None:
        self.items[sid]["end"] = end

    def with_self_time(self) -> list[dict]:
        """Each span plus ``self_s``: its duration minus the part of it
        its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.items:
            dur = s["end"] - s["start"]
            covered = union_len(kids.get(s["id"], []), s["start"], s["end"])
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def spark_time(text: str | None) -> float | None:
    """'2026-10-17T06:50:56.667GMT' → epoch seconds."""
    if not text:
        return None
    head, ms = text.removesuffix("GMT").removesuffix("Z").split(".")
    return calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000


_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
               "m": 60.0, "h": 3600.0}
MB = 1e6
_SIZE_UNITS = {"B": 1 / MB, "KiB": 2**10 / MB, "MiB": 2**20 / MB,
               "GiB": 2**30 / MB, "TiB": 2**40 / MB}


def sql_metric(value: str) -> float:
    """A formatted SQL-metric value → seconds, MB or a plain count.
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    line = value.split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-zµ]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1.0))


class StatusStore:
    """Reads jobs, stages and SQL executions from the application's
    status store (UI REST API of the Spark driver, localhost only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the store reflects every finished job."""
        self._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self._get("/stages")
                if s["status"] != "SKIPPED"}

    def new_sql(self) -> list[dict]:
        """SQL executions added since the last call, with node metrics."""
        out = self._get(f"/sql?details=true&planDescription=false"
                        f"&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(out)
        return out


PYTHON_NODE_KEYS = ("Python", "Pandas", "InArrow")


def python_nodes(executions: list[dict], job_ids: set[int]) -> list[dict]:
    """Python/Arrow plan nodes of the executions that ran ``job_ids``:
    name, run time (s), MB sent to workers, rows returned."""
    nodes = []
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ran & job_ids:
            continue
        for nd in ex.get("nodes", []):
            if not any(k in nd["nodeName"] for k in PYTHON_NODE_KEYS):
                continue
            m = {x["name"]: sql_metric(x["value"]) for x in nd["metrics"]}
            nodes.append({
                "name": nd["nodeName"],
                "run_s": m.get("time to run Python workers", 0.0),
                "mb_sent": m.get("data sent to Python workers", 0.0),
                "rows_out": m.get("number of output rows", 0.0),
            })
    return nodes


def job_spans(spans: Spans, jobs: list[dict], stages: dict[int, dict],
              place) -> list[dict]:
    """Add a span per job and per executed stage. ``place(start, end)``
    gives a job's parent span and the interval to clip it to (Spark
    stamps times in whole milliseconds, rounded down). Returns the stage
    records of the jobs."""
    used = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        js = spark_time(j["submissionTime"])
        je = spark_time(j.get("completionTime")) or js
        parent, lo, hi = place(js, je)
        js, je = min(max(js, lo), hi), min(max(je, lo), hi)
        jid = spans.add(f"job {j['jobId']}", "job", js, je, parent,
                        status=j["status"], tasks=j["numTasks"])
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st is None or not st.get("submissionTime"):
                continue
            ss = min(max(spark_time(st["submissionTime"]), js), je)
            se = min(max(spark_time(st.get("completionTime")) or je, ss), je)
            spans.add(f"stage {sid}", "stage", ss, se, jid,
                      tasks=st["numTasks"])
            used.append(st)
    return used


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Executor, shuffle and scan totals over executed stages."""
    t = dict.fromkeys(
        ("stages", "tasks", "run_s", "cpu_s", "gc_s", "write_mb", "read_mb",
         "write_records", "fetch_wait_s", "spill_mb", "input_mb",
         "input_records"), 0.0)
    mb = 1 / MB
    for st in stages:
        t["stages"] += 1
        t["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        t["run_s"] += st["executorRunTime"] / 1e3
        t["cpu_s"] += st["executorCpuTime"] / 1e9
        t["gc_s"] += st["jvmGcTime"] / 1e3
        t["write_mb"] += st["shuffleWriteBytes"] * mb
        t["read_mb"] += st["shuffleReadBytes"] * mb
        t["write_records"] += st["shuffleWriteRecords"]
        t["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
        t["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) * mb
        t["input_mb"] += st["inputBytes"] * mb
        t["input_records"] += st["inputRecords"]
    return t
