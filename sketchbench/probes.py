"""Host and process-tree probes, Spark plan metrics and a span tracer.

Nothing here starts a thread or touches Spark at import time; every probe is
an object the run creates and closes.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree: CPU seconds and resident memory of this process + descendants
# ---------------------------------------------------------------------------

def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (JVM, Python daemon and workers)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU of the tree, including reaped children (cutime and
    cstime), so a worker that exits between two samples is still counted."""
    total = 0
    for pid in pids or tree_pids():
        st = _proc_stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat (1-based): utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def tree_pss_bytes(pids: list[int]) -> int:
    """Resident memory of the tree, each shared page split between the
    processes that map it (PSS): forked Python workers share most of their
    pages with the daemon, and summing their RSS would count those pages
    once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class TreeSampler:
    """Background sampler of the process tree's resident memory (peak)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_pss_bytes(tree_pids()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_steal_s() -> float:
    """Cumulative steal time of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def host_block(spark) -> dict:
    import numpy
    import pandas
    import pyarrow

    return {
        "nproc": os.cpu_count(),
        "granted_cpus": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "master": spark.sparkContext.master,
    }


# ---------------------------------------------------------------------------
# Spark plan metrics: walk executedPlan into the AQE query stages
# ---------------------------------------------------------------------------

def _node_metrics(node) -> dict[str, float]:
    """SQLMetrics of one plan node, timings converted to seconds."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        kind = m.metricType()
        if kind == "timing":
            v /= 1e3
        elif kind == "nsTiming":
            v /= 1e9
        out[kv._1()] = v
    return out


def plan_nodes(plan, into_cache: bool):
    """Yield (class name, metrics) for every executed node under ``plan``.

    ``into_cache`` descends into the plan that filled an in-memory cache; a
    stage that only reads a cache filled earlier leaves it False so that
    work is not counted twice."""
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        yield cls, _node_metrics(node)
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec" and into_cache:
            todo.append(node.relation().cachedPlan())
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))


SPARK_KEYS = (
    "scan_s", "shuffle_bytes", "shuffle_records", "python_s",
    "bytes_to_python", "peak_memory_bytes", "agg_time_s", "exploded_rows",
    "map_rows_out",
)


def plan_summary(df, into_cache: bool) -> dict[str, float]:
    """Fold a DataFrame's executed plan into layer buckets (L1 Arrow/Python
    boundary, L2 JVM scan/aggregate/shuffle)."""
    s = dict.fromkeys(SPARK_KEYS, 0.0)
    for cls, m in plan_nodes(df._jdf.queryExecution().executedPlan(), into_cache):
        s["scan_s"] += m.get("scanTime", 0.0)
        if "Exchange" in cls:
            s["shuffle_bytes"] += m.get("shuffleBytesWritten", 0.0)
            s["shuffle_records"] += m.get("shuffleRecordsWritten", 0.0)
        s["python_s"] += m.get("pythonTotalTime", 0.0)
        s["bytes_to_python"] += m.get("pythonDataSent", 0.0)
        if cls in ("MapInArrowExec", "MapInPandasExec"):
            s["map_rows_out"] += m.get("pythonNumRowsReceived", 0.0)
        s["peak_memory_bytes"] += m.get("peakMemory", 0.0)
        if "HashAggregate" in cls:
            s["agg_time_s"] += m.get("aggTime", 0.0)
        if cls == "GenerateExec":
            s["exploded_rows"] += m.get("numOutputRows", 0.0)
    return s


def group_tasks(sc, group: str) -> tuple[int, int]:
    """(Spark jobs, tasks) run under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent); self time is a span's
    duration minus the part its children cover."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_s):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out
