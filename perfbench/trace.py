"""Benchmark-side reader of Spark's own status stores.

Nothing here patches the engine. Per-layer numbers come from three
places Spark keeps anyway, all populated with ``spark.ui.enabled=false``
(checked on PySpark 4.1.2: the stores are fed by listeners Spark
registers whether or not the UI runs):

- the core status store (``sc._jsc.sc().statusStore()``): jobs and
  per-stage task-metric totals, with task run-time quantiles;
- the SQL status store (``sharedState().statusStore()``): per-execution
  metric values, where scanned bytes and Python-worker times show up;
- streaming progress events, collected by :class:`ProgressLog`.

Store objects are serialized to JSON inside the JVM with Jackson, so one
py4j call returns a whole list instead of one call per field.

Attribution is by time: a job, stage or SQL execution belongs to the
window its submission time falls in. Job groups would not do, because
the micro-batches of a streaming replay run on the stream's own thread
and never inherit the caller's group.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.core import quantile

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")
# a file source's offset, rendered as JSON or as a Python dict
_LOG_OFFSET = re.compile(r"logOffset\D*(\d+)")

# SQL metric name -> (per-layer name, scale from seconds or bytes)
SQL_METRICS = {
    "size of files read": ("sources.scan_mb", 2**-20),
    "time to run Python workers": ("spark.python.run_s", 1.0),
    "time to start Python workers": ("spark.python.start_s", 1.0),
    "time to initialize Python workers": ("spark.python.init_s", 1.0),
    "data sent to Python workers": ("spark.python.sent_mb", 2**-20),
    "data returned from Python workers": ("spark.python.recv_mb", 2**-20),
}


def metric_value(text: str) -> float:
    """Parse the driver-side rendering of one SQL metric total, e.g.
    ``'2.8 s'``, ``'15,000'`` or, for per-task metrics, ``'total (min,
    med, max ...)\n119.3 KiB (...)'``; in seconds and bytes."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _execution(ex: dict) -> dict:
    """One SQL execution: its span and the totals of :data:`SQL_METRICS`."""
    names = {str(m["accumulatorId"]): m["name"] for m in ex.get("metrics") or []}
    totals: dict[str, float] = {}
    for acc, text in (ex.get("metricValues") or {}).items():
        name = names.get(acc)
        if name in SQL_METRICS:
            totals[name] = totals.get(name, 0.0) + metric_value(text)
    return {
        "start_ms": int(ex["submissionTime"]),
        "end_ms": int(ex["completionTime"]) if ex.get("completionTime") else None,
        "metrics": totals,
    }


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def overlap_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    return covered_ms([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi])


class Snapshot:
    """Jobs, stages and SQL executions of one SparkSession, read once
    from its live status stores after a run."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        databind = jvm.com.fasterxml.jackson.databind
        mapper = databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        mapper.configure(databind.SerializationFeature.FAIL_ON_EMPTY_BEANS, False)

        def read(obj):
            return json.loads(mapper.writeValueAsString(obj))

        core = spark.sparkContext._jsc.sc().statusStore()
        sql = spark._jsparkSession.sharedState().statusStore()
        # completed stage attempts, with task run-time median and max
        quantiles = spark.sparkContext._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        empty = jvm.java.util.ArrayList
        self.jobs = read(core.jobsList(None))
        self.stages = read(core.stageList(empty(), False, True, quantiles, empty()))
        self.executions = [_execution(ex) for ex in read(sql.executionsList())]
        self.job_spans = [
            (j["submissionTime"], j["completionTime"])
            for j in self.jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]

    def job_ms_in(self, lo: float, hi: float) -> float:
        return overlap_ms(self.job_spans, lo, hi)

    def layer_metrics(self, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
        """Per-layer totals over the measured ``windows`` (epoch ms),
        divided by the number of windows: one figure per pass."""
        inside = lambda t: any(lo <= t < hi for lo, hi in windows)  # noqa: E731
        n = max(len(windows), 1)
        wall_s = sum(hi - lo for lo, hi in windows) / 1e3
        stages = [s for s in self.stages if s.get("submissionTime") and inside(s["submissionTime"])]
        jobs = [j for j in self.jobs if j.get("submissionTime") and inside(j["submissionTime"])]
        execs = [e for e in self.executions if e["end_ms"] and inside(e["start_ms"])]

        out = {
            "spark.sched.jobs": len(jobs) / n,
            "spark.sched.stages": len(stages) / n,
            "spark.sched.tasks": sum(s.get("numCompleteTasks", 0) for s in stages) / n,
            "spark.sched.deser_s": sum(s.get("executorDeserializeTime", 0) for s in stages) / 1e3 / n,
            "spark.exec.run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3 / n,
            "spark.exec.cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9 / n,
            "spark.exec.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3 / n,
            "spark.shuffle.write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20 / n,
            "spark.shuffle.read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / 2**20 / n,
            "spark.shuffle.fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3 / n,
            "spark.shuffle.spill_mb": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
            ) / 2**20 / n,
            "sources.scan_rows": sum(s.get("inputRecords", 0) for s in stages) / n,
            "spark.sql.executions": len(execs) / n,
        }
        out["spark.exec.busy_frac"] = out["spark.exec.run_s"] / (wall_s / n * cores) if wall_s else 0.0
        skews = []
        for s in stages:
            run_q = (s.get("taskMetricsDistributions") or {}).get("executorRunTime") or []
            if s.get("numCompleteTasks", 0) > 1 and len(run_q) == 2 and run_q[0] > 0:
                skews.append(run_q[1] / run_q[0])
        out["spark.sched.task_skew"] = statistics.median(skews) if skews else 1.0
        # planning and other driver time inside SQL executions: time an
        # execution is open while no job runs
        exec_spans = [(e["start_ms"], e["end_ms"]) for e in execs]
        plan_ms = covered_ms(exec_spans + self.job_spans) - covered_ms(self.job_spans)
        out["spark.sql.plan_s"] = plan_ms / 1e3 / n
        for metric, (name, scale) in SQL_METRICS.items():
            out[name] = sum(e["metrics"].get(metric, 0.0) for e in execs) * scale / n
        return out


def progress_end_ms(event: dict) -> float:
    """Commit time of a micro-batch: trigger start plus the whole
    trigger's duration."""
    start = datetime.fromisoformat(event["start"].replace("Z", "+00:00")).timestamp() * 1e3
    return start + event["duration_ms"].get("triggerExecution", 0)


def streaming_metrics(events: list[dict], n: int) -> dict[str, float]:
    """Trigger-phase and state-store figures over progress ``events``;
    counts are divided by ``n`` windows."""
    dur = [e["duration_ms"] for e in events]
    trig = sorted(d.get("triggerExecution", 0) for d in dur)
    mean = lambda key: statistics.fmean(d.get(key, 0) for d in dur) if dur else 0.0  # noqa: E731
    states = [s for e in events for s in e["state"]]
    return {
        "streaming.triggers": len(events) / max(n, 1),
        "streaming.trigger_p50_ms": quantile(trig, 0.5),
        "streaming.trigger_p95_ms": quantile(trig, 0.95),
        "streaming.add_batch_ms": mean("addBatch"),
        "streaming.plan_ms": mean("queryPlanning"),
        "streaming.wal_ms": mean("walCommit"),
        "streaming.offsets_ms": mean("latestOffset"),
        "streaming.rows_per_trigger": statistics.fmean(e["rows"] for e in events) if events else 0.0,
        "streaming.empty_frac": (
            sum(1 for e in events if not e["rows"]) / len(events) if events else 0.0
        ),
        "state.rows": statistics.fmean(s["rows"] for s in states) if states else 0.0,
        "state.mem_mb": statistics.fmean(s["mem"] for s in states) / 2**20 if states else 0.0,
        "state.commit_ms": statistics.fmean(s["commit_ms"] for s in states) if states else 0.0,
    }


def log_offset(sources) -> int | None:
    """How far into a file source's metadata log a micro-batch read:
    the log batch id of its end offset; None for other sources."""
    m = _LOG_OFFSET.search(str(sources[0].endOffset)) if sources else None
    return int(m.group(1)) if m else None


class ProgressLog(StreamingQueryListener):
    """Records every streaming progress event: enough to place each
    micro-batch's commit in time, to know which source files it read
    and, for the traced run, its phase durations and state-operator
    figures."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "name": p.name,
            "batch": p.batchId,
            "start": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "rows": p.numInputRows,
            "offset": log_offset(p.sources),
            "state": [
                {"rows": s.numRowsTotal, "mem": s.memoryUsedBytes, "removed": s.numRowsRemoved,
                 "commit_ms": s.commitTimeMs}
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self._events.append(rec)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def events(self) -> list[dict]:
        with self._lock:
            return list(self._events)
