"""Layer measurements taken from outside the library.

Nothing here reaches into ``vaex_spark``: the py4j round-trip count comes
from wrapping the gateway client's ``send_command``, Spark jobs are tied
to a request through a per-request job group and the status tracker, and
stage / SQL-node metrics are read from the local UI REST API at
``sc.uiWebUrl``.  ``Tracer`` keeps spans in memory and writes them out at
the end of a traced run.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from datetime import datetime, timezone


def rss_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    name = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getRuntimeMXBean().getName()
    return int(name.split("@")[0])


def jvm_peak_heap_mb(spark) -> float:
    """The JVM's own peak heap use in MiB: the peak usage of every heap
    memory pool (eden, survivor, old), summed."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP") / 2**20


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after full collections, in MiB: what the session keeps
    between requests.  Spark's ContextCleaner frees broadcasts and shuffle
    state only after a collection has found their handles unreachable, so
    one collection leaves them counted (186-590 MiB on ingest, against a
    steady ~95 MiB once the cleaner has run); the smallest of four readings
    half a second apart is reported."""
    import gc
    gc.collect()  # drop Python proxies, so py4j releases their JVM objects
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.5)
    return min(used)


def ui_get(sc, path: str):
    """GET from the application's UI REST API at ``sc.uiWebUrl``."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetched_plans(sc, fetches: dict, timeout: float = 10.0) -> dict:
    """For each ``key: (group, since)``, the physical plans, as the SQL tab
    shows them once the query is done (the final adaptive plan), of the SQL
    executions that ran jobs of job group ``group`` and started at or after
    ``since`` (epoch seconds; the fetch start, so executions of eager jobs
    during plan-build are left out)."""
    jobs = {key: set(sc.statusTracker().getJobIdsForGroup(group))
            for key, (group, _) in fetches.items()}
    deadline = time.time() + timeout
    while True:
        execs = ui_get(sc, "/sql?details=false&planDescription=false&length=100000")
        mine = {key: [ex for ex in execs
                      if jobs[key] & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                                         + ex.get("runningJobIds", []))
                      # UI times are whole milliseconds, truncated
                      and (_ui_time(ex.get("submissionTime")) or 0.0) >= since - 1e-3]
                for key, (_, since) in fetches.items()}
        done = all(ex and all(e["status"] != "RUNNING" for e in ex) for ex in mine.values())
        if done or time.time() > deadline:
            break
        time.sleep(0.05)
    return {key: [ui_get(sc, f"/sql/{e['id']}?details=false&planDescription=true")
                  ["planDescription"] for e in ex]
            for key, ex in mine.items()}


class Py4jCounter:
    """Counts Python→JVM round trips made through the gateway client."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.__dict__.pop("send_command", None)


def _ui_time(s: str | None) -> float | None:
    """UI REST timestamps ('2026-01-01T00:00:00.123GMT') as epoch seconds."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# SQL-node metric names of Spark's Python exec nodes (PythonSQLMetrics).
_PY_METRICS = {"time to start Python workers": "python.worker_start_s",
               "time to initialize Python workers": "python.worker_start_s",
               "time to run Python workers": "python.worker_run_s",
               "data sent to Python workers": "python.bytes_sent"}


class SparkProbe:
    """Per-request Spark counters: jobs, stages, tasks, stage metrics,
    Python-worker metrics, planning and idle time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _get(self, path: str):
        return ui_get(self.sc, path)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def wait_idle(self, jobs: list[int], timeout: float = 10.0) -> None:
        """The UI store updates asynchronously; wait until it has every job
        of the request as finished."""
        deadline = time.time() + timeout
        want = set(jobs)
        while time.time() < deadline:
            done = {j["jobId"] for j in self._get("/jobs")
                    if j["status"] in ("SUCCEEDED", "FAILED")}
            if want <= done:
                return
            time.sleep(0.05)

    def request_metrics(self, jobs: list[int], action: tuple[float, float]) -> dict:
        """Counters of the jobs ``jobs``; ``action`` is the wall interval of
        the fetch (epoch seconds), for plan and idle time."""
        out = {"spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0,
               "spark.executor_cpu_s": 0.0, "spark.executor_run_s": 0.0,
               "spark.shuffle_read_bytes": 0, "spark.shuffle_write_bytes": 0,
               "spark.spill_bytes": 0, "python.worker_start_s": 0.0,
               "python.worker_run_s": 0.0, "python.bytes_sent": 0,
               "spark.plan_s": 0.0, "spark.idle_s": 0.0}
        self._last = ([], {})
        if not jobs:
            out["spark.idle_s"] = action[1] - action[0]
            return out
        self.wait_idle(jobs)
        want = set(jobs)
        job_rows = [j for j in self._get("/jobs") if j["jobId"] in want]
        stage_ids = {s for j in job_rows for s in j["stageIds"]}
        intervals, stages = [], {}
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            stages[st["stageId"]] = st
            out["spark.stages"] += 1
            out["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
            out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            a = _ui_time(st.get("submissionTime"))
            b = _ui_time(st.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((a, b))
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & want:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        out[key] += _metric_value(m["value"], key)
        submits = [_ui_time(j.get("submissionTime")) for j in job_rows]
        submits = [s for s in submits if s is not None and s >= action[0]]
        if submits:
            out["spark.plan_s"] = max(min(submits) - action[0], 0.0)
        out["spark.idle_s"] = (action[1] - action[0]) - _covered(intervals, *action)
        self._last = (job_rows, stages)
        return out

    def job_spans(self) -> list[dict]:
        """Jobs and their stages of the last ``request_metrics`` call, with
        epoch-second start and end, for the tracer."""
        job_rows, stages = self._last
        spans = []
        for j in job_rows:
            start = _ui_time(j.get("submissionTime"))
            end = _ui_time(j.get("completionTime")) or start
            sts = [{"id": sid, "start": _ui_time(stages[sid].get("submissionTime")),
                    "end": _ui_time(stages[sid].get("completionTime"))}
                   for sid in j["stageIds"] if sid in stages]
            spans.append({"id": j["jobId"], "start": start, "end": end,
                          "stages": [x for x in sts if x["start"] and x["end"]]})
        return spans


def _metric_value(text: str, key: str) -> float:
    """Parse a SQL-node metric string: the 'total' of a timing / size
    metric ('total (min, med, max)\\n1.2 s (...)') or a plain number."""
    first = text.split("\n")[-1].split("(")[0].strip() if "\n" in text else text.strip()
    parts = first.replace(",", "").split()
    if not parts:
        return 0.0
    num = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if key.endswith("_s"):
        return num * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit, 1e-3)
    return num * {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30}.get(unit, 1)


class Tracer:
    """In-memory spans (name, start, end, parent, request id).  Span times
    are given in epoch seconds (the UI REST API's clock) and stored as
    seconds since the tracer was created."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.time()

    def span(self, name: str, start: float, end: float, parent: int | None,
             request: str, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start_s": start - self._t0, "end_s": end - self._t0,
                           "parent": parent, "request": request, **attrs})
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
