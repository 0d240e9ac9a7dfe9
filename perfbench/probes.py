"""Measurement from outside the program: Spark's REST status API, a
StreamingQueryListener, and timing spans around public layout helpers.

Nothing here changes what the program computes. The REST reader only
reads; the listener only records progress events; the spans wrap
``plans.layout.shared_frame`` / ``spread_for_cpu`` for the traced pass
and restore the originals afterwards.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import sys
import time
import urllib.request

MB = 1024.0 * 1024.0
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

#: SQL-node metric name -> the benchmark's functions.* counter. "time to
#: initialize Python workers" is left out: on a reused worker it grows
#: with the worker's idle time (12.6 s summed over the tasks of a 2.4 s
#: call), so it does not measure start-up.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_mb",
}


def parse_metric(value: str) -> float:
    """Total of a SQL UI metric string: seconds for times, bytes for
    sizes, a plain number for counts ('total (min, med, max …)\\n12.1 s
    (…)' -> 12.1)."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def _ts(s: str | None) -> float | None:
    """REST timestamps ('2026-10-16T17:52:34.689GMT') -> epoch seconds."""
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class SparkRest:
    """Reads jobs, stages, SQL executions and executors of the running
    application, and attributes them to an operation by id range."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; the benchmark reads its REST API")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.marks = self.mark()

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}{path}", timeout=30) as r:
            return json.load(r)

    def wait_idle(self, timeout: float = 30.0) -> list[dict]:
        """Block until REST reports no running job and two consecutive
        reads agree on the job list; return that list."""
        prev = None
        deadline = time.monotonic() + timeout
        while True:
            jobs = self.get("/jobs")
            sig = [(j["jobId"], j["status"]) for j in jobs]
            if sig == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                print("perfbench: REST did not settle; attributing as is",
                      file=sys.stderr)
                return jobs
            prev = sig
            time.sleep(0.05)

    def mark(self) -> dict[str, int]:
        """Highest job, stage and SQL-execution ids seen so far."""
        jobs = self.wait_idle()
        stages = self.get("/stages")
        sql = self.get("/sql?details=false&planDescription=false&offset=0&length=1000000")
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s["stageId"] for s in stages), default=-1),
            "sql": max((e["id"] for e in sql), default=-1),
        }

    def collect(self) -> dict:
        """Everything that ran since the last call, summed; advances the
        marks. Call only between operations."""
        lo = self.marks
        hi = self.mark()
        self.marks = hi
        jobs = [j for j in self.get("/jobs") if lo["job"] < j["jobId"] <= hi["job"]]
        stages = [
            s for s in self.get("/stages")
            if lo["stage"] < s["stageId"] <= hi["stage"] and s["status"] != "SKIPPED"
        ]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
            "input_mb": sum(s["inputBytes"] for s in stages) / MB,
            "output_mb": sum(s["outputBytes"] for s in stages) / MB,
            "job_intervals": [
                (_ts(j.get("submissionTime")), _ts(j.get("completionTime")))
                for j in jobs
                if j.get("submissionTime") and j.get("completionTime")
            ],
            "python_run_s": 0.0, "python_boot_s": 0.0, "python_sent_mb": 0.0,
            "python_rows_out": 0.0,
        }
        for eid in range(lo["sql"] + 1, hi["sql"] + 1):
            try:
                ex = self.get(f"/sql/{eid}?details=true&planDescription=false")
            except OSError:
                continue  # evicted from the UI store
            for node in ex.get("nodes", []):
                metrics = {m["name"]: parse_metric(m["value"]) for m in node.get("metrics", [])}
                if not PYTHON_METRICS.keys() & metrics.keys():
                    continue  # not a Python node
                for name, key in PYTHON_METRICS.items():
                    v = metrics.get(name, 0.0)
                    out[key] += v / MB if key.endswith("_mb") else v
                out["python_rows_out"] += metrics.get("number of output rows", 0.0)
        return out

    def peak_heap_mb(self) -> float:
        peaks = [
            e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0)
            for e in self.get("/executors")
        ]
        return max(peaks, default=0) / MB


def stream_probe(spark):
    """A StreamingQueryListener that records every progress event and
    counts started/terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Probe(StreamingQueryListener):
        def __init__(self):
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                {
                    "id": str(p.id),
                    "rows": p.numInputRows,
                    "dur": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def drain(self, timeout: float = 30.0) -> list[dict]:
            """Wait until every started query has reported termination
            (its progress events precede that), then hand over and reset
            the recorded progress."""
            deadline = time.monotonic() + timeout
            while self.terminated < self.started and time.monotonic() < deadline:
                time.sleep(0.02)
            out, self.progress = self.progress, []
            return out

    probe = Probe()
    spark.streams.addListener(probe)
    return probe


class Spans:
    """Timing spans around ``plans.layout.shared_frame`` and
    ``spread_for_cpu``, installed on every program module that bound
    them, for the traced pass only."""

    def __init__(self):
        from uw_hadoop_aglorithms_spark.plans import layout

        self.layout = layout
        self.stats = {"shared_frame_calls": 0, "shared_frame_s": 0.0,
                      "spread_repartitions": 0}
        self.originals = {"shared_frame": layout.shared_frame,
                          "spread_for_cpu": layout.spread_for_cpu}
        self.patched: list[tuple[object, str, object]] = []

    def _wrappers(self):
        shared, spread = self.originals["shared_frame"], self.originals["spread_for_cpu"]

        def shared_frame(df):
            t0 = time.perf_counter()
            try:
                return shared(df)
            finally:
                self.stats["shared_frame_calls"] += 1
                self.stats["shared_frame_s"] += time.perf_counter() - t0

        def spread_for_cpu(df, *keys):
            out = spread(df, *keys)
            self.stats["spread_repartitions"] += out is not df
            return out

        return {"shared_frame": shared_frame, "spread_for_cpu": spread_for_cpu}

    def __enter__(self):
        wrappers = self._wrappers()
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("uw_hadoop_aglorithms_spark"):
                continue
            for name, orig in self.originals.items():
                if getattr(mod, name, None) is orig:
                    self.patched.append((mod, name, orig))
                    setattr(mod, name, wrappers[name])
        return self

    def __exit__(self, *exc):
        for mod, name, orig in self.patched:
            setattr(mod, name, orig)
        self.patched.clear()
        return False
