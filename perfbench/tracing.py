"""Measurement from outside the engine: spans, process memory, Spark UI
metrics and streaming progress.

Nothing here reaches into ``markt_database_analyzer_spark``: spans wrap
the benchmark's own calls into the package, and every engine figure is
read back from Spark's status REST API, its listener bus or ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (id, name, layer, start, end,
    parent, pass id); spans nest through a stack, so a span's parent is the
    span open when it began. When disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part covered by its children, summed
        per layer (children run inside their parent, one at a time)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "self_s_by_layer": self.self_time_by_layer(), "spans": spans}, f, indent=1)


# ---------------------------------------------------------------------------
# Resident memory and CPU time of this interpreter and the processes it started
# ---------------------------------------------------------------------------


def _proc_stats():
    """(pid, fields) for every process, the fields of ``/proc/<pid>/stat``
    after the command name: 0 state, 1 ppid, 11-14 utime, stime, cutime,
    cstime (clock ticks), 21 rss (pages); proc(5) numbers them from 3."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                yield int(name), f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited between listdir and open
            continue


def _own_rss_bytes(me: int) -> int:
    """RSS of ``me`` plus its direct children (the gateway JVM). Python
    workers are the JVM's descendants and are left out: how many the idle
    pool holds depends on task-timing races, which moved the sum by up to
    1 GB between identical runs."""
    pages = sum(int(f[21]) for pid, f in _proc_stats() if pid == me or int(f[1]) == me)
    return pages * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this interpreter and all
    its descendants: the gateway JVM and the Python workers it forks. A
    process's ``cutime``/``cstime`` hold the children it has reaped, so a
    worker that exited still counts. Time spent waiting for a CPU is not
    CPU time, which is what makes this steadier than wall time on a
    shared host."""
    me = os.getpid()
    parent, used = {}, {}
    for pid, f in _proc_stats():
        parent[pid] = int(f[1])
        used[pid] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples that RSS every ``interval`` seconds; keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _own_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _own_rss_bytes(os.getpid()))
        return self.peak


# ---------------------------------------------------------------------------
# Spark status REST API (traced runs only: it needs the UI server)
# ---------------------------------------------------------------------------

_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """SQL-metric display string -> number (seconds, bytes or a count).

    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> ...``;
    ones measured outside tasks are a bare ``<value> <unit>``."""
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1))


def _metric(node: dict, name: str) -> float:
    return sum(parse_metric(m["value"]) for m in node.get("metrics", ()) if m["name"] == name)


class UiMetrics:
    """Reads new jobs, stages, SQL executions and cached RDDs from the
    Spark UI's REST API after each query, and adds them into the current
    pass's counters (a ``defaultdict(float)`` the caller owns)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.seen_jobs = self.seen_stages = -1
        # SQL execution ids are JVM-wide (they keep counting across
        # sessions), so executions are paged by position, not by id
        self.n_sql = 0
        self.drain()
        self.harvest(defaultdict(float))  # skip everything before the passes

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Block until the listener bus has delivered every posted event,
        so the status store (and Python stream listeners) are current."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("storage/rdd"))

    def harvest(self, acc: defaultdict) -> None:
        self.drain()
        jobs = [j for j in self._get("jobs") if j["jobId"] > self.seen_jobs]
        if jobs:
            self.seen_jobs = max(j["jobId"] for j in jobs)
        acc["session.jobs"] += len(jobs)

        stages = [s for s in self._get("stages?status=complete") if s["stageId"] > self.seen_stages]
        if stages:
            self.seen_stages = max(s["stageId"] for s in stages)
        for s in stages:
            acc["session.stages"] += 1
            acc["session.tasks"] += s["numCompleteTasks"]
            acc["session.executor_run_s"] += s["executorRunTime"] / 1e3
            acc["session.executor_cpu_s"] += s["executorCpuTime"] / 1e9
            acc["session.gc_s"] += s["jvmGcTime"] / 1e3
            acc["operators.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            acc["operators.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]

        execs = self._get(f"sql?details=true&planDescription=false&offset={self.n_sql}&length=100000")
        self.n_sql += len(execs)
        for e in execs:
            for node in e.get("nodes", ()):
                name = node["nodeName"]
                if name.startswith("Scan ") or name.startswith("BatchScan"):
                    acc["sources.scan_nodes"] += 1
                    acc["sources.scan_rows"] += _metric(node, "number of output rows")
                    acc["sources.scan_bytes"] += _metric(node, "size of files read")
                    acc["sources.scan_s"] += _metric(node, "scan time")
                elif name.startswith("WholeStageCodegen"):
                    acc["functions.codegen_s"] += _metric(node, "duration")
                elif name in ("Exchange", "BroadcastExchange"):
                    acc["operators.exchanges"] += 1
                    acc["operators.broadcast_build_s"] += _metric(node, "time to build")
                elif name == "Sort":
                    acc["operators.sort_peak_bytes"] += _metric(node, "peak memory")
                elif name in ("HashAggregate", "ObjectHashAggregate"):
                    acc["operators.agg_build_s"] += _metric(node, "time in aggregation build")
                acc["streaming.python_bytes"] += _metric(node, "data sent to Python workers") + _metric(
                    node, "data returned from Python workers"
                )


def stream_listener_class():
    """A ``StreamingQueryListener`` that keeps every progress event. Built
    lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self, acc: defaultdict) -> None:
            """Move the logged progress into ``acc`` (times in seconds)."""
            done, self.progress = self.progress, []
            last = {}  # per query run: its final progress holds the state size
            for p in done:
                d = p.durationMs
                acc["streaming.batches"] += 1
                acc["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                acc["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
                acc["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                acc["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                acc["streaming.state_commit_s"] += sum(op.commitTimeMs for op in p.stateOperators) / 1e3
                last[p.runId] = p
            for p in last.values():
                for op in p.stateOperators:
                    acc["streaming.state_rows"] += op.numRowsTotal
                    acc["streaming.state_mem_bytes"] += op.memoryUsedBytes

    return ProgressLog
