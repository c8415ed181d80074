"""Measurement helpers: /proc CPU and RSS of the Spark JVM and its Python
workers, executed-plan SQL metrics, Spark status-store reads, and spans.

Everything here reads state; nothing changes how the engine runs.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# /proc: the driver's descendants are the JVM (spark-submit execs java) and,
# under it, the pyspark daemon and its forked workers
# ---------------------------------------------------------------------------

def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None once it is gone.
    comm may hold spaces, so split around its parentheses."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> dict[int, str]:
    """pid -> comm for every live descendant of ``root``."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            comm[int(name)], parent[int(name)] = st[0], int(st[1][1])
    out: dict[int, str] = {}
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out[c] = comm[c]
                frontier.append(c)
    return out


def process_start_unix() -> float:
    """Wall-clock start time of this process (from /proc, 10 ms ticks)."""
    fields = _stat(f"/proc/{os.getpid()}/stat")[1]
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(fields[19]) / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave other tenants, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _compiler_cpu(pid: int) -> float:
    """CPU seconds of a JVM's live JIT compiler threads (C1/C2); exact only
    while the JVM keeps every compiler thread it started."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    ticks = 0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and "Compiler" in st[0]:
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks / _TICK


class ProcTree:
    """CPU seconds and summed RSS of the JVM and its Python workers."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def cpu(self) -> tuple[float, float]:
        """(jvm_cpu_s, python_cpu_s), counting reaped children into their
        parent, so workers that exited are not lost. The JVM's JIT compiler
        threads are left out: how much they compile depends on how warm the
        JVM is, not on the job."""
        jvm = py = 0.0
        for pid, comm in descendants(self.root).items():
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            s = sum(int(x) for x in st[1][11:15]) / _TICK
            if comm == "java":
                jvm += s - _compiler_cpu(pid)
            elif comm.startswith("python"):
                py += s
        return jvm, py

    def rss_bytes(self, pids) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total


class PeakRss:
    """Background sampler of the tree's summed RSS; ``take`` returns the
    peak seen since the previous ``take``."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.05):
        self.tree, self.interval = tree, interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids: list[int] = []
        refreshed = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 0.5:
                pids = [p for p, c in descendants(self.tree.root).items()
                        if c == "java" or c.startswith("python")]
                refreshed = now
            rss = self.tree.rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# executed-plan SQL metrics (AQE final plan, walked through query stages)
# ---------------------------------------------------------------------------

def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric: value}) for every node of the plan ``df``'s own
    QueryExecution ran. Call after an action that used that execution
    (``localCheckpoint``, ``collect``); a ``noop`` write plans anew and
    would leave these at zero."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((name, metrics))
        stack.extend(_seq(node.children()))
    return out


def metric_sum(nodes, node_prefix: str, metric: str) -> int:
    return sum(m.get(metric, 0) for n, m in nodes if n.startswith(node_prefix))


# ---------------------------------------------------------------------------
# SQL executions from the status store: the plans of actions the benchmark
# cannot hold a DataFrame for (those inside tools/run_pipeline.run). Values
# are the store's display strings, parsed back to bytes, ms and counts.
# ---------------------------------------------------------------------------

# display name -> the key plan_nodes reports, for the metrics read here
_DISPLAY = {
    "number of output rows": "numOutputRows",
    "data sent to Python workers": "pythonDataSent",
    "time to run Python workers": "pythonTotalTime",
    "data size": "dataSize",
    "shuffle bytes written": "shuffleBytesWritten",
    "shuffle records written": "shuffleRecordsWritten",
    "size of files read": "filesSize",
    "scan time": "scanTime",
}
_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _parse_display(v: str) -> float:
    """'4,286' | '72 ms' | '69.2 KiB' | 'total (min, ...)\n7.2 s (...)'."""
    if "\n" in v:
        v = v.split("\n", 1)[1]
    num, _, unit = v.split(" (")[0].strip().partition(" ")
    return float(num.replace(",", "")) * _SCALE.get(unit, 1)


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((e.executionId() for e in _seq(execs)), default=-1)


def sql_executions(spark, after_id: int) -> list[dict]:
    """Executions with id > ``after_id``: description, epoch start/end (ms),
    stage ids and plan nodes in plan_nodes' shape."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = []
        for n in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(n.metrics()):
                key = _DISPLAY.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    if key == "numOutputRows" and n.name() in _PYTHON_NODES:
                        key = "pythonNumRowsReceived"
                    metrics[key] = _parse_display(v.get())
            nodes.append((n.name().strip(), metrics))
        end = e.completionTime()
        stages = []
        it = e.stages().iterator()
        while it.hasNext():
            stages.append(it.next())
        out.append({"id": eid, "desc": e.description(),
                    "start_ms": e.submissionTime(),
                    "end_ms": end.get().getTime() if end.isDefined() else None,
                    "stages": stages, "nodes": nodes})
    return out


# ---------------------------------------------------------------------------
# Spark AppStatusStore (works with spark.ui.enabled=false)
# ---------------------------------------------------------------------------

class StatusStore:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _stage_list(self) -> list:
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        return _seq(self.store.stageList(None, False, False, empty, None))

    def stage_ids(self) -> set[tuple[int, int]]:
        return {(s.stageId(), s.attemptId()) for s in self._stage_list()}

    def stages(self, keys) -> list:
        """Stages by (id, attempt), or by id alone (every attempt)."""
        keys = set(keys)
        return [s for s in self._stage_list()
                if (s.stageId(), s.attemptId()) in keys or s.stageId() in keys]

    def gc_ms(self) -> int:
        return sum(e.totalGCTime() for e in _seq(self.store.executorList(True)))

    def task_run_quantiles(self, stage_id: int, attempt: int,
                           qs=(0.5, 1.0)) -> list[float] | None:
        jvm = self.sc._jvm
        arr = self.sc._gateway.new_array(jvm.double, len(qs))
        for i, q in enumerate(qs):
            arr[i] = q
        opt = self.store.taskSummary(stage_id, attempt, arr)
        if opt.isEmpty():
            return None
        return list(_seq(opt.get().executorRunTime()))


# ---------------------------------------------------------------------------
# spans: kept in memory, written when the run ends
# ---------------------------------------------------------------------------

class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._next = 0

    def span(self, name: str, parent: int | None = None) -> "_Span":
        self._next += 1
        return _Span(self, self._next, name, parent)

    def record(self, sid, name, parent, start, end, **attrs) -> None:
        """Keep one span (epoch seconds) in memory."""
        self.spans.append({"run": self.run_id, "id": sid, "parent": parent,
                           "name": name, "start": start, "end": end,
                           "dur_s": end - start, **attrs})

    def add(self, name, parent, start, end, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a SQL execution)."""
        self._next += 1
        self.record(self._next, name, parent, start, end, **attrs)
        return self._next


class _Span:
    def __init__(self, tracer: Tracer, sid: int, name: str, parent):
        self.tracer, self.id, self.name, self.parent = tracer, sid, name, parent

    def __enter__(self) -> "_Span":
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.tracer.record(self.id, self.name, self.parent, self.start,
                           self.end, ok=exc[0] is None)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Meter:
    """Accumulates wall and tree CPU over the ``with`` blocks of one job."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.wall = self.jvm_cpu = self.py_cpu = 0.0

    def __enter__(self) -> "Meter":
        self._cpu = self.tree.cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall += time.perf_counter() - self._t0
        jvm, py = self.tree.cpu()
        self.jvm_cpu += jvm - self._cpu[0]
        self.py_cpu += py - self._cpu[1]
