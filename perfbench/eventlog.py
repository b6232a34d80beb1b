"""Spark event log: attach a logger to a live session, and parse what it
wrote with the standard library into per-span executor and
Python-boundary counters.

The logger is Spark's own ``EventLoggingListener``, added to the
listener bus only while traced reps run, so the untraced reps of the
same process pay nothing for it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
_PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "python_ms",
    "number of output rows": "rows",
}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas",
             "WindowInPandas")


class EventLog:
    """Spark's event logger, attached to a running context."""

    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        sc = spark.sparkContext
        jvm, self._ssc = sc._jvm, sc._jsc.sc()
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        uri = jvm.java.io.File(log_dir).toURI()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._ssc.applicationId(), none, uri, self._ssc.conf(),
            sc._jsc.hadoopConfiguration())
        self.log_dir = log_dir

    def __enter__(self):
        self._listener.start()
        self._ssc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        # drain queued events into the log before detaching the logger
        self._ssc.listenerBus().waitUntilEmpty()
        self._ssc.removeSparkListener(self._listener)
        self._listener.stop()

    def events(self):
        for name in sorted(os.listdir(self.log_dir)):
            with open(os.path.join(self.log_dir, name)) as f:
                for line in f:
                    yield json.loads(line)


def _python_accumulators(plan: dict, out: dict) -> None:
    """accumulator id -> counter name, for Python-evaluation plan nodes."""
    if plan["nodeName"] in _PY_NODES:
        for m in plan["metrics"]:
            if m["name"] in _PY_METRICS:
                out[m["accumulatorId"]] = _PY_METRICS[m["name"]]
    for child in plan["children"]:
        _python_accumulators(child, out)


def summarize(events) -> dict:
    """Counters per span id (the ``perfbench.span`` job property).

    Per span: jobs, stages, tasks; executor run, CPU and GC seconds;
    shuffle bytes written and read, bytes spilled, output bytes written;
    the Python-boundary counters of every Python-evaluation node; and
    the driver's planning time — per SQL execution, execution start to
    its first submitted stage."""
    py_acc: dict[int, str] = {}
    exec_start: dict[int, int] = {}
    exec_first_stage: dict[int, int] = {}
    job_span: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    exec_span: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages_seen: dict[str, set] = defaultdict(set)
    for e in events:
        kind = e["Event"]
        if kind in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accumulators(e["sparkPlanInfo"], py_acc)
            if "time" in e:
                exec_start[e["executionId"]] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get("perfbench.span")
            if span is None:
                continue
            jid = e["Job ID"]
            job_span[jid] = span
            out[span]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
            if "spark.sql.execution.id" in props:
                xid = int(props["spark.sql.execution.id"])
                job_exec[jid] = xid
                exec_span[xid] = span
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            jid = stage_job.get(info["Stage ID"])
            if jid is None:
                continue
            stages_seen[job_span[jid]].add(info["Stage ID"])
            xid = job_exec.get(jid)
            t = info.get("Submission Time")
            if xid is not None and t is not None:
                exec_first_stage[xid] = min(exec_first_stage.get(xid, t), t)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            acc = out[job_span[jid]]
            acc["tasks"] += 1
            m = e.get("Task Metrics") or {}
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            ow = m.get("Output Metrics") or {}
            acc["output_bytes"] += ow.get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                name = py_acc.get(a.get("ID"))
                if name is not None:
                    acc["udf_" + name] += float(a.get("Update") or 0)
    for span, ids in stages_seen.items():
        out[span]["stages"] = len(ids)
    for xid, t0 in exec_start.items():
        span = exec_span.get(xid)
        if span is not None and xid in exec_first_stage:
            out[span]["plan_ms"] += max(0, exec_first_stage[xid] - t0)
    return {k: dict(v) for k, v in out.items()}
