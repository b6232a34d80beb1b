"""Session sizing, resource sampling, spans and shutdown for one run.

Everything here lives in the benchmark: spans are recorded around the
benchmark's own calls into the library, never inside it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """JVM heap: an eighth of physical memory, clamped to [1, 3] GB, so the
    Python workers and the page cache keep the rest of a shared host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(1024, min(3072, total_kb // 1024 // 8))


def session_config(work: str, cores: int, heap_mb: int) -> dict:
    """Spark settings for a ``local[cores]`` session whose every file
    lands under ``work``. The event log stays off; a traced run attaches
    its listener at run time (``EventLog``)."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.python.worker.reuse": "true",
    }


def start_session(work: str, conf: dict):
    """Launch the JVM and a SparkSession confined to ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of this process, the JVM and the Python workers,
    sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans (name, start, end, parent, run id). While a span is
    open, Spark jobs carry its name as job description and its id as the
    ``perfbench.span`` local property, so the event log maps jobs to
    spans."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid) -> None:
        if self.sc is None:
            return
        self.sc.setJobDescription(None if sid is None else self.spans[sid]["name"])
        self.sc.setLocalProperty("perfbench.span",
                                 None if sid is None else str(sid))

    def children_of(self, sid: int) -> set[int]:
        """``sid`` and every span nested under it."""
        out = {sid}
        for s in self.spans:  # spans are appended in start order
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra},
                      f, indent=1, default=str)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of this machine so far, from /proc/stat. The
    steal share of a stretch of time is the hypervisor's; a high one
    means another guest held our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def persisted_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    infos = jsc.sc().getRDDStorageInfo()
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return n, size / 2**20
