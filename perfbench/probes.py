"""Readers for numbers Spark and the OS already keep.

* :func:`plan_metrics` walks an executed plan, AQE-aware:
  ``AdaptiveSparkPlanExec.executedPlan()`` → ``*QueryStageExec.plan()``
  → ``InMemoryTableScanExec.relation().cachedPlan()`` → children.  It
  reads the SQL metrics of the scan, Arrow UDF and exchange nodes, so
  row counts come from the rows each UDF node returned
  (``pythonNumRowsReceived``) and never from re-running the plan.
* :func:`group_tasks` and :func:`group_shuffle_bytes` read the
  application status store for the jobs of one job group.
* :class:`WorkerRss` samples the peak RSS of the Python workers that
  descend from this process, from the moment it is entered.
* :func:`cpu_times` reads the machine's CPU time counters, so a run can
  say how much CPU the host took from it (steal).
"""

from __future__ import annotations

import os
import threading


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metrics(node) -> dict[str, tuple[int, str]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().value(), kv._2().metricType())
    return out


def _ms(value: int, kind: str) -> float:
    return value / 1e6 if kind == "nsTiming" else float(value)


def walk(node):
    """Every physical node under ``node``, descending through adaptive
    plans, query stages and cached relations."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from walk(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from walk(node.plan())
    elif name == "InMemoryTableScanExec":
        yield from walk(node.relation().cachedPlan())
    for child in _seq(node.children()):
        yield from walk(child)


def _has_exchange(node) -> bool:
    return any(n.getClass().getSimpleName() == "ShuffleExchangeExec"
               for n in walk(node))


def plan_metrics(df) -> dict[str, float]:
    """SQL metrics of the action that last executed ``df``.

    Arrow UDF nodes are split by route: the heavy branch is the one fed
    by a shuffle (``run_extract`` repartitions only the heavy class).
    """
    out: dict[str, float] = {
        "scan.time_ms": 0.0, "scan.bytes": 0.0,
        "shuffle.bytes_written": 0.0, "shuffle.write_ms": 0.0,
        "udf.nodes": 0.0,
    }
    for route in ("normal", "heavy"):
        for key in ("python_total_ms", "python_init_ms", "python_boot_ms",
                    "bytes_sent", "bytes_received", "rows"):
            out[f"udf.{route}.{key}"] = 0.0
    for node in walk(df._jdf.queryExecution().executedPlan()):
        name = node.getClass().getSimpleName()
        m = _metrics(node)
        if name == "FileSourceScanExec":
            out["scan.time_ms"] += _ms(*m["scanTime"])
            out["scan.bytes"] += m["filesSize"][0]
        elif name == "ShuffleExchangeExec":
            out["shuffle.bytes_written"] += m["shuffleBytesWritten"][0]
            out["shuffle.write_ms"] += _ms(*m["shuffleWriteTime"])
        elif name == "ArrowEvalPythonExec":
            route = "heavy" if _has_exchange(node) else "normal"
            p = f"udf.{route}."
            out["udf.nodes"] += 1
            out[p + "python_total_ms"] += _ms(*m["pythonTotalTime"])
            out[p + "python_init_ms"] += _ms(*m["pythonInitTime"])
            out[p + "python_boot_ms"] += _ms(*m["pythonBootTime"])
            out[p + "bytes_sent"] += m["pythonDataSent"][0]
            out[p + "bytes_received"] += m["pythonDataReceived"][0]
            out[p + "rows"] += m["pythonNumRowsReceived"][0]
    return out


def _group_stages(spark, group: str) -> list:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = []
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info else ():
            stages += _seq(store.stageData(sid, False, no_status, False, no_quantiles))
    return stages


def group_failed_tasks(spark, group: str) -> int:
    return sum(st.numFailedTasks() for st in _group_stages(spark, group))


def group_shuffle_bytes(spark, group: str) -> int:
    return sum(st.shuffleWriteBytes() for st in _group_stages(spark, group))


def group_tasks(spark, group: str) -> list[float]:
    """Run time (ms) of every successful task in the group's jobs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for st in _group_stages(spark, group):
        for t in _seq(store.taskList(st.stageId(), st.attemptId(), 1 << 30)):
            if t.status() == "SUCCESS" and t.taskMetrics().isDefined():
                out.append(float(t.taskMetrics().get().executorRunTime()))
    return out


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two :func:`cpu_times` readings that
    the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class WorkerRss:
    """Background sampler of the largest peak RSS of any PySpark worker
    process descended from this process, while the sampler is entered.

    PySpark reuses workers, so on entry and on :meth:`reset` each live
    worker's high-water mark is reset (``5`` written to
    ``/proc/<pid>/clear_refs``) and ``VmHWM`` then covers only the phase
    since; a worker forked later starts with a fresh mark.  A worker
    whose mark cannot be reset contributes its sampled ``VmRSS``
    instead.  The kernel keeps ``VmHWM`` between samples, so the
    sampling interval only matters for workers that exit and for that
    fallback; a long one keeps the sampler off the CPUs it measures."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._is_worker: dict[int, bool] = {}
        self._not_reset: set[int] = set()

    def _workers(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        found, todo = [], [os.getpid()]
        while todo:
            for pid in children.get(todo.pop(), ()):
                todo.append(pid)
                if pid not in self._is_worker:
                    try:
                        with open(f"/proc/{pid}/cmdline", "rb") as f:
                            cmd = f.read()
                    except OSError:
                        continue
                    self._is_worker[pid] = b"pyspark" in cmd and (
                        b"daemon" in cmd or b"worker" in cmd)
                if self._is_worker[pid]:
                    found.append(pid)
        return found

    def _reset_peaks(self) -> None:
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                self._not_reset.add(pid)

    def reset(self) -> None:
        """Forget the peaks so far: from here on only what follows counts."""
        with self._lock:
            self._reset_peaks()
            self.peak_kb = 0

    def sample(self) -> None:
        with self._lock:
            self._sample()

    def _sample(self) -> None:
        for pid in self._workers():
            key = "VmRSS:" if pid in self._not_reset else "VmHWM:"
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith(key):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "WorkerRss":
        self._reset_peaks()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
