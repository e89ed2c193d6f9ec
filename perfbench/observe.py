"""Measurement plumbing that watches the engine from outside: spans,
Spark's own SQL/stage metrics, process RSS and the host sentinel."""

from __future__ import annotations

import contextlib
import functools
import os
import re
import threading
import time

import numpy as np

# ----------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, kind, start, end, parent id, attributes),
    written out once when the run ends. A disabled tracer records
    nothing, so the untraced run pays only a context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield {"id": None}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "start_s": time.perf_counter() - self._t0,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def wrap(self, owner, attr: str, name: str, kind: str):
        """Replace ``owner.attr`` with a timing wrapper that records a
        span per call; returns an undo callable."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            with self.span(name, kind):
                return orig(*a, **kw)

        setattr(owner, attr, timed)
        return lambda: setattr(owner, attr, orig)

    def child_totals(self, span_id) -> dict[str, float]:
        """Summed duration per name of every span below ``span_id``."""
        out: dict[str, float] = {}
        if span_id is None:
            return out
        inside = {span_id}
        for s in self.spans[span_id + 1 :]:
            if s["parent"] in inside and "end_s" in s:
                inside.add(s["id"])
                out[s["name"]] = out.get(s["name"], 0.0) + s["end_s"] - s["start_s"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end_s" in s:
                child[s["parent"]] += s["end_s"] - s["start_s"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end_s" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end_s"] - s["start_s"] - child[s["id"]]
        return out


# -------------------------------------------------- Spark status metrics

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A status-store metric string as seconds, bytes or a count. Multi-
    task metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")


class SparkStats:
    """Reads one action's SQL plan metrics and stage metrics from the
    status stores, keyed by the job description the benchmark sets."""

    def __init__(self, spark):
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.seen: set[int] = set()

    def _iter(self, seq):
        return (seq.apply(i) for i in range(seq.size()))

    def mark(self) -> None:
        """Forget every execution that finished so far."""
        for e in self._iter(self.sql.executionsList()):
            self.seen.add(e.executionId())

    def collect(self, description: str) -> dict:
        """Fold the metrics of every new execution labelled
        ``description`` into one record."""
        rec: dict = {
            "executions": 0, "nodes": {}, "python_run_s": 0.0, "python_init_s": 0.0,
            "python_start_s": 0.0, "python_bytes_sent": 0.0, "python_bytes_returned": 0.0,
            "udf_run_s": 0.0, "udf_rows": 0.0,
            "scan_s": 0.0, "scan_bytes": 0.0, "shuffle_write_bytes": 0.0,
            "shuffle_write_s": 0.0, "exchanges": 0,
            "written_bytes": 0.0, "written_files": 0.0, "task_commit_s": 0.0,
            "job_commit_s": 0.0, "stages": [],
        }
        # the status stores are fed by the asynchronous listener bus
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
        for e in self._iter(self.sql.executionsList()):
            eid = e.executionId()
            if eid in self.seen or e.description() != description:
                continue
            self.seen.add(eid)
            rec["executions"] += 1
            values = self.sql.executionMetrics(eid)
            for node in self._iter(self.sql.planGraph(eid).allNodes()):
                name = node.name()
                metrics = {}
                for m in self._iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(v.get()) if v.isDefined() else 0.0
                self._fold(rec, name, metrics)
            stages = e.stages().toList()
            rec["stages"].extend(int(stages.apply(i)) for i in range(stages.size()))
        rec["stage"] = self._stage_totals(rec["stages"])
        return rec

    @staticmethod
    def _fold(rec: dict, name: str, m: dict) -> None:
        key = name.split(" ")[0]
        node = rec["nodes"].setdefault(key, {"count": 0, "rows": 0.0})
        node["count"] += 1
        node["rows"] += m.get("number of output rows", 0.0)
        if key == "ArrowEvalPython":  # the scalar pandas UDF: the MTL parse
            rec["udf_run_s"] += m.get("time to run Python workers", 0.0)
            rec["udf_rows"] += m.get("number of output rows", 0.0)
        if key in _PYTHON_NODES:
            rec["python_run_s"] += m.get("time to run Python workers", 0.0)
            rec["python_init_s"] += m.get("time to initialize Python workers", 0.0)
            rec["python_start_s"] += m.get("time to start Python workers", 0.0)
            rec["python_bytes_sent"] += m.get("data sent to Python workers", 0.0)
            rec["python_bytes_returned"] += m.get("data returned from Python workers", 0.0)
        if key == "Scan":
            rec["scan_s"] += m.get("scan time", 0.0)
            rec["scan_bytes"] += m.get("size of files read", 0.0)
        if key == "Exchange":
            rec["exchanges"] += 1
            rec["shuffle_write_bytes"] += m.get("shuffle bytes written", 0.0)
            rec["shuffle_write_s"] += m.get("shuffle write time", 0.0)
        if "number of written files" in m:
            rec["written_files"] += m.get("number of written files", 0.0)
            rec["written_bytes"] += m.get("written output", 0.0)
            rec["task_commit_s"] += m.get("task commit time", 0.0)
            rec["job_commit_s"] += m.get("job commit time", 0.0)

    def _stage_totals(self, stage_ids: list[int]) -> dict:
        tot = {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
               "stages": 0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "task_skew": 1.0}
        busiest = -1.0
        for sid in stage_ids:
            try:
                st = self.app.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or skipped
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            run_s = st.executorRunTime() / 1e3
            tot["executor_run_s"] += run_s
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled()
            if run_s > busiest and st.numTasks() > 1:
                busiest = run_s
                tot["task_skew"] = self._skew(sid, st.attemptId())
        return tot

    def _skew(self, stage_id: int, attempt: int) -> float:
        """max / median task duration of one stage attempt."""
        tasks = self.app.taskList(stage_id, attempt, 100000)
        d = [t.duration().get() for t in self._iter(tasks) if t.duration().isDefined()]
        return float(max(d) / max(np.median(d), 1.0)) if d else 1.0


# -------------------------------------------------------------- host RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (this process,
    the JVM it launched and that JVM's Python workers)."""
    kids = _children_map()
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open("/proc/%d/statm" % pid) as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


# -------------------------------------------------------- host sentinel

_SENT_BUFS = None


def sentinel_s() -> float:
    """Constant-work DRAM probe (the ``bench.py`` contention sentinel):
    a multiply-add sweep over 32 MB float64 buffers, min of three
    spaced samples. Its time moves only with host contention, so a
    co-tenant burst labels the run instead of reading as a regression."""
    global _SENT_BUFS
    if _SENT_BUFS is None:
        rng = np.random.default_rng(7)
        a = rng.random(4_000_000)
        _SENT_BUFS = (a, rng.random(4_000_000), np.empty_like(a))
    a, b, c = _SENT_BUFS

    def one() -> float:
        t0 = time.perf_counter()
        for _ in range(8):
            np.multiply(a, 1.0000001, out=c)
            np.add(c, b, out=c)
        return time.perf_counter() - t0

    best = one()
    for _ in range(2):
        time.sleep(0.1)
        best = min(best, one())
    return best
