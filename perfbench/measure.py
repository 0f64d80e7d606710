"""Measurement helpers for the benchmark: process-tree memory and CPU,
the JVM's retained heap, the host record, and spans with Spark metrics.

Nothing here changes what the engine does. Spans are recorded from the
benchmark's own files around calls into the engine; the Spark numbers
come from the job-group status tracker and the SQL status store, which
are both live with the Spark UI disabled.
"""

from __future__ import annotations

import os
import platform
import re
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------------ memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (JVM, Python daemon, workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, including the children each of them has reaped. Time the
    hypervisor stole from the VM is not in it."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between
    their sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler:
    """Samples the summed PSS of this process tree every ``period`` s in
    a daemon thread; ``peak_mb`` is the largest sum seen. Also remembers
    every pid it saw so the caller can wait for them to end."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        tree = process_tree(os.getpid())
        self.pids.update(tree)
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in tree))

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    keeps between jobs (persisted blocks, broadcasts, plan and status
    caches), whatever heap size the collector chose."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = float("inf")
    # Spark's cleaner thread drops broadcast and shuffle blocks only after
    # a collection has found them unreachable, so collect until the heap
    # stops shrinking
    for _ in range(6):
        jvm.java.lang.System.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if now > used - 1.0:
            return min(now, used)
        used = now
        time.sleep(0.3)
    return used


# -------------------------------------------------------------------- host

def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(t0: list[int], t1: list[int]) -> dict:
    """user/system/steal share of all CPU ticks between two samples."""
    d = [b - a for a, b in zip(t0, t1)]
    tot = max(sum(d[:8]), 1)
    return {"cpu_user_pct": round(100 * d[0] / tot, 2),
            "cpu_system_pct": round(100 * d[2] / tot, 2),
            "cpu_steal_pct": round(100 * d[7] / tot, 2)}


def host_record(cores: int) -> dict:
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "spark_cores": cores,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "loadavg_start": os.getloadavg()[0]}


# ------------------------------------------------------------------ tracing

# SQL status-store metric values are display strings: "1,234",
# "7.8 MiB", "985 ms", or "total (min, med, max ...)\n2.7 s (...)"
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """The total of one SQL metric display string, in B, s or count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas")
_PY_METRICS = {"number of output rows": "py_rows",
               "data sent to Python workers": "py_bytes",
               "time to run Python workers": "py_s"}


def execution_counters(sqlstore, exec_id: int) -> dict:
    """Layer counters of one finished SQL execution, summed over its plan
    nodes. ``pip_rows``/``pip_hits`` are the rows into and out of a Python
    node whose consumer is a Filter (the PIP residual is the engine's only
    Python filter); ``join_rows`` sums join-node outputs."""
    vals = sqlstore.executionMetrics(exec_id)
    graph = sqlstore.planGraph(exec_id)
    nodes = graph.allNodes()
    by_id, out = {}, {}

    def metric(nd, name):
        ms = nd.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.name() == name:
                v = vals.get(m.accumulatorId())
                return parse_metric(v.get()) if v.isDefined() else 0.0
        return 0.0

    def add(key, v):
        out[key] = out.get(key, 0.0) + v

    for i in range(nodes.size()):
        nd = nodes.apply(i)
        name = nd.name()
        by_id[nd.id()] = nd
        if name == "Exchange":
            add("shuffle_bytes", metric(nd, "shuffle bytes written"))
        elif name == "BroadcastExchange":
            add("broadcast_bytes", metric(nd, "data size"))
        elif name in _PY_NODES:
            for mname, key in _PY_METRICS.items():
                add(key, metric(nd, mname))
        elif "Join" in name:
            add("join_rows", metric(nd, "number of output rows"))
    edges = graph.edges()
    for k in range(edges.size()):
        e = edges.apply(k)
        child, parent = by_id.get(e.fromId()), by_id.get(e.toId())
        if (child is not None and parent is not None
                and child.name() in _PY_NODES and parent.name() == "Filter"):
            add("pip_rows", metric(child, "number of output rows"))
            add("pip_hits", metric(parent, "number of output rows"))
    return out


class Span:
    __slots__ = ("name", "t0", "t1", "jobs", "counters", "children",
                 "groups")

    def __init__(self, name: str):
        self.name = name
        self.t0 = self.t1 = 0.0
        self.jobs = 0
        self.groups: list[str] = []
        self.counters: dict[str, float] = {}
        self.children: list[Span] = []

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


class Tracer:
    """Records nested spans on the driver thread. Each span runs its
    Spark jobs under its own job group, so ``jobs`` is an exact count of
    the jobs it started itself; the SQL executions that began inside it
    (and not inside a child span) give its plan counters. ``overhead_s``
    sums the time spent on this bookkeeping, outside every span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.stack: list[Span] = []
        self.spans: list[Span] = []   # finished top-level spans
        self._n = 0
        self._seen_execs = self.sql.executionsCount()
        self.overhead_s = 0.0

    def _drain(self) -> list[int]:
        """Ids of SQL executions recorded since the last drain."""
        self.bus.waitUntilEmpty()
        n = self.sql.executionsCount()
        if n == self._seen_execs:
            return []
        execs = self.sql.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        return [execs.apply(k).executionId() for k in range(execs.size())]

    def _claim(self, span: Span) -> None:
        for eid in self._drain():
            for k, v in execution_counters(self.sql, eid).items():
                span.counters[k] = span.counters.get(k, 0.0) + v

    def _enter_group(self, sp: Span) -> None:
        self._n += 1
        group = f"perfbench-{self._n}"
        sp.groups.append(group)
        self.sc.setJobGroup(group, sp.name)

    @contextmanager
    def span(self, name: str):
        t_in = time.monotonic()
        sp = Span(name)
        if self.stack:
            self._claim(self.stack[-1])   # the parent's work so far
            self.stack[-1].children.append(sp)
        else:
            self._drain()  # executions run outside any span belong to none
        self._enter_group(sp)
        self.stack.append(sp)
        sp.t0 = time.monotonic()
        self.overhead_s += sp.t0 - t_in
        try:
            yield sp
        finally:
            sp.t1 = time.monotonic()
            self.stack.pop()
            tracker = self.sc.statusTracker()
            sp.jobs = sum(len(tracker.getJobIdsForGroup(g)) for g in sp.groups)
            self._claim(sp)
            if self.stack:
                self._enter_group(self.stack[-1])
            else:
                self.sc._jsc.clearJobGroup()
                self.spans.append(sp)
            self.overhead_s += time.monotonic() - sp.t1


# per-layer metrics summed over a traced iteration's operators
LAYER_UNITS = {
    "call_s": "s", "call_jobs": "count", "action_s": "s",
    "shuffle_bytes": "B", "broadcast_bytes": "B",
    "py_rows": "count", "py_bytes": "B",
    "pip_rows": "count", "pip_hit_ratio": "ratio", "join_rows": "count",
    "persisted_rdds": "count", "bytes_written": "B", "files_written": "count",
}
_SUMMED = ("shuffle_bytes", "broadcast_bytes", "py_rows", "py_bytes", "py_s",
           "pip_rows", "pip_hits", "join_rows")


def op_records(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Spans named ``<op>.<kind>`` (kind: call, action, commit) folded
    into one record per operator: ``<kind>_s`` self time, ``<kind>_jobs``
    and the plan counters, plus the ratios the counters give."""
    recs: dict[str, dict[str, float]] = {}

    def fold(sp: Span) -> None:
        op, kind = sp.name.rsplit(".", 1)
        rec = recs.setdefault(op, {})
        for k, v in ((f"{kind}_s", sp.self_seconds), (f"{kind}_jobs", sp.jobs),
                     *sp.counters.items()):
            rec[k] = rec.get(k, 0.0) + v
        for ch in sp.children:
            fold(ch)

    for sp in spans:
        fold(sp)
    for rec in recs.values():
        if rec.get("pip_rows"):
            rec["pip_hit_ratio"] = rec.get("pip_hits", 0.0) / rec["pip_rows"]
        if rec.get("join_rows") and "result_rows" in rec:
            rec["hit_ratio"] = rec["result_rows"] / rec["join_rows"]
    return recs


def layer_totals(recs: dict[str, dict[str, float]]) -> dict[str, float]:
    """One iteration's layer sums over its operator records."""
    tot = {k: sum(r.get(k, 0.0) for r in recs.values())
           for k in ("call_s", "call_jobs", "action_s", "commit_s", *_SUMMED)}
    tot["write_s"] = sum(r.get("action_s", 0.0) for op, r in recs.items()
                         if op.startswith("tile_pipeline."))
    tot["action_s"] += tot["commit_s"]
    tot["pip_hit_ratio"] = tot["pip_hits"] / tot["pip_rows"] if tot["pip_rows"] else 0.0
    return tot
