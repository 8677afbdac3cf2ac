"""Outside-in probes: spans, Spark plan counters, stage data, process RSS.

Nothing here reaches into the program's modules. Layers are observed by
timing calls into their public functions, by walking the physical plan of a
frame after it ran (``SQLMetric`` values read over py4j), and by reading the
live application status store for stage- and task-level shuffle data.
"""
from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. A span has a name, start, end, parent and
    the id of the job it belongs to; spans are only written out by the
    caller once the run is over."""

    def __init__(self, sc=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc

    @contextmanager
    def span(self, name: str, job: str, layer: str, on_path: bool = False):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "job": job, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "on_path": on_path, "start": time.perf_counter(), "end": None,
            "group": f"{job}/{sid}", "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    self._sc.setJobGroup("", "")
                else:
                    self._sc.setJobGroup(self.spans[parent]["group"], "")

    def duration(self, name: str) -> float:
        rec = self.find(name)
        return rec["end"] - rec["start"]

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out = []
        for c in self.children(sid):
            out.append(c)
            out.extend(self.descendants(c["id"]))
        return out

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it that child spans cover."""
        rec = self.find(name)
        covered = 0.0
        cur_end = rec["start"]
        for c in sorted(self.children(rec["id"]), key=lambda s: s["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], rec["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return (rec["end"] - rec["start"]) - covered

    def export(self, t0: float) -> list[dict]:
        """Spans with times relative to ``t0``, job groups dropped."""
        return [
            {**{k: v for k, v in s.items() if k != "group"},
             "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


# ------------------------------------------------------- plan counters


def plan_nodes(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every node of the frame's executed
    physical plan, descending through AQE's final plan and query stages.
    Read after the frame's own query execution has run."""
    out: list[tuple[str, dict]] = []

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(p.plan())
            return
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((p.nodeName(), metrics))
        ch = p.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def metric_sum(nodes, node_prefix: str, metric: str) -> int:
    return sum(
        m.get(metric, 0) for name, m in nodes if name.startswith(node_prefix)
    )


# ---------------------------------------------------------- stage data


class StageReader:
    """Stage- and task-level shuffle data from the live status store, for
    the jobs run under a set of job groups."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def _settle(self):
        # status events are delivered asynchronously; wait for the bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def stages(self, groups: list[str]) -> list:
        self._settle()
        jvm = self._sc._jvm
        tracker = self._sc.statusTracker()
        out = []
        for g in groups:
            for job in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    data = self._store.stageData(
                        sid, False, jvm.java.util.ArrayList(), False,
                        self._sc._gateway.new_array(jvm.double, 0),
                    )
                    it = data.iterator()
                    while it.hasNext():
                        s = it.next()
                        if s.status().toString() == "COMPLETE":
                            out.append(s)
        return out

    def shuffle_write_bytes(self, groups: list[str]) -> int:
        return sum(s.shuffleWriteBytes() for s in self.stages(groups))

    def read_skew(self, groups: list[str]) -> float:
        """max / median of per-task shuffle bytes read, over the tasks of
        every stage that read a shuffle (1.0 when nothing was read)."""
        per_task = []
        for s in self.stages(groups):
            if s.shuffleReadBytes() <= 0:
                continue
            it = self._store.taskList(
                s.stageId(), s.attemptId(), 1_000_000
            ).iterator()
            while it.hasNext():
                m = it.next().taskMetrics()
                if m.isDefined():
                    r = m.get().shuffleReadMetrics()
                    per_task.append(r.localBytesRead() + r.remoteBytesRead())
        med = statistics.median(per_task) if per_task else 0
        return max(per_task) / med if med else 1.0


# --------------------------------------------------------- processes


def descendants(root_pid: int) -> list[int]:
    """Pids of every live process below ``root_pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def resident_bytes(pid: int) -> int:
    """Proportional resident set size: resident pages, with each page
    shared between processes split among its sharers. Python workers are
    forked from one daemon, so plain RSS would count the pages they share
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of this process and all its
    descendants (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        me = os.getpid()
        total = resident_bytes(me) + sum(resident_bytes(p) for p in descendants(me))
        self.peak = max(self.peak, total)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def _alive(pid: int) -> bool:
    """Running and not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM, and wait until every process
    started below this one (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    spawned = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        alive = [p for p in spawned if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes did not exit: {alive}")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 10
        time.sleep(0.1)
