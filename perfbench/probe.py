"""Measurement probes the benchmark reads from outside the program.

- ``RssSampler``: peak resident memory of the driver JVM and every
  process under it (the PySpark daemon and its Python workers), read from
  /proc.
- ``python_cpu_s``: CPU seconds of the Python workers, read from /proc.
- ``JobGroupStats``: executor CPU, GC time, shuffle bytes written and
  failed tasks for the jobs of one Spark job group, from the driver's
  status store (``AppStatusStore``), which exists with the UI disabled.
- ``PlanCapture``: a ``QueryExecutionListener`` that keeps every finished
  query's executed plan, so the SQL metrics of its Python nodes (rows and
  bytes through each UDF) can be read after the run.

None of these changes a plan: a job group is a thread-local property, and
the listener only holds references to plans Spark already built.
"""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass, fields


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, from statm
    (cheap: no page-table walk, unlike smaps)."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:           # the process ended between the reads
            pass
    return total


def python_cpu_s(root_pid: int) -> float:
    """CPU seconds of every process under ``root_pid`` (the PySpark daemon
    and its workers), including reaped workers via the daemon's cutime."""
    kids = _children_map()
    ticks, todo = 0, list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields 14-17: utime stime cutime cstime
        ticks += sum(map(int, stat[stat.rindex(b")") + 2:].split()[11:15]))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Polls the process tree's RSS on a thread; ``peak()`` since
    ``reset``."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        rss = tree_rss_bytes(self.root_pid)
        with self._lock:
            self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak(self) -> int:
        self.sample()
        with self._lock:
            return self._peak


@dataclass
class Totals:
    """Per-job-group counters; ``-`` gives a layer's own share."""
    wall_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    python_bytes: int = 0
    task_failures: int = 0

    def __sub__(self, o: "Totals") -> "Totals":
        return Totals(*(getattr(self, f.name) - getattr(o, f.name)
                        for f in fields(self)))


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class JobGroupStats:
    """Stage metrics of a job group, summed over its distinct stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._no_tasks = getattr(self.store, "stageData$default$3")()
        self._no_quantiles = getattr(self.store, "stageData$default$5")()

    def wait_for_listeners(self) -> None:
        """Block until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def totals(self, group: str) -> Totals:
        t = Totals()
        stage_ids = set()
        for job in self.sc.statusTracker().getJobIdsForGroup(group):
            stage_ids.update(_seq(self.store.job(job).stageIds()))
        for sid in stage_ids:
            for s in _seq(self.store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles)):
                t.cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1e3
                t.shuffle_write_bytes += s.shuffleWriteBytes()
                t.task_failures += s.numFailedTasks()
        return t


class PlanCapture:
    """QueryExecutionListener (via the py4j callback server) that keeps
    each finished query's ``QueryExecution`` for later metric reads."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._qes: list = []
        self._lock = threading.Lock()
        spark._jsparkSession.listenerManager().register(self)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    # -- QueryExecutionListener -------------------------------------------
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        with self._lock:
            self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self._lock:
            self._qes.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def drain(self) -> list:
        with self._lock:
            qes, self._qes = self._qes, []
        return qes


def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk_plan(node, seen: set):
    """Yield every physical node of the final plan once: through AQE
    wrappers and query stages, into the plans of cached relations, skipping
    reused exchanges (their work is counted where it ran). A stage AQE ran
    and then dropped from the final plan is not visited."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from walk_plan(node.executedPlan(), seen)
        return
    if cls.endswith("QueryStageExec"):
        yield from walk_plan(node.plan(), seen)
        return
    if cls == "ReusedExchangeExec" or node.id() in seen:
        return
    seen.add(node.id())
    yield node
    for child in _seq(node.children()):
        yield from walk_plan(child, seen)
    if cls == "InMemoryTableScanExec":
        yield from walk_plan(node.relation().cachedPlan(), seen)


def python_node_totals(qes, udf_layers: dict[str, str]
                       ) -> tuple[int, dict[str, int]]:
    """Bytes across the Python boundary, and rows out of each layer's UDFs.

    ``udf_layers`` maps a UDF's Python function name to the layer that owns
    it; a node evaluating several UDFs credits its rows to each of them."""
    nbytes, rows = 0, {}
    seen: set = set()
    name_re = re.compile(r"\b(" + "|".join(map(re.escape, udf_layers))
                         + r")\(")
    for qe in qes:
        for node in walk_plan(qe.executedPlan(), seen):
            m = _metric_values(node)
            if "pythonDataSent" not in m:      # not a Python node
                continue
            nbytes += m["pythonDataSent"] + m["pythonDataReceived"]
            for layer in {udf_layers[f] for f in
                          name_re.findall(node.simpleString(4096))}:
                rows[layer] = rows.get(layer, 0) + m["pythonNumRowsReceived"]
    return nbytes, rows


def storage_bytes(spark) -> dict[int, int]:
    """Memory + disk bytes held by each persisted RDD, by RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.memSize() + i.diskSize() for i in infos}
