"""Measurement plumbing shared by the workloads: process-tree RSS/CPU from
/proc, in-memory spans, Spark status-store readers and host context.

Nothing here reaches inside ``kenlm_rs_spark``: every number comes from the
operating system, from Spark's own status stores, or from timing calls made
by the benchmark's files.
"""

from __future__ import annotations

import os
import platform
import re
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- process tree


def _read_stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    end = raw.rindex(")")
    return raw[raw.index("(") + 1 : end], raw[end + 2 :].split()


def _stat_fields(pid: int) -> list[str] | None:
    stat = _read_stat(pid)
    return stat[1] if stat else None


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it (driver, JVM, Python workers).
    A JVM child between fork and exec is left out: it shares every page of
    the JVM, and counting it would add the whole JVM to the RSS sum again."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read_stat(int(name))
        if stat is not None:
            comm[int(name)] = stat[0]
            children.setdefault(int(stat[1][1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        kids = children.get(pid, [])
        if comm.get(pid) == "java" and kids:
            kids = [c for c in kids if _exe(c) != _exe(pid)]
        todo.extend(kids)
    return out


def host_probe() -> dict:
    """Seconds for a fixed single-thread Python loop and for summing a 256 MB
    array (memory bandwidth). On a shared host a neighbour can halve this
    machine's speed without any steal time showing; these probes, taken at
    the start and end of a run, make that visible."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i
    t1 = time.perf_counter()
    a = np.ones(32 * 2**20)
    t2 = time.perf_counter()
    for _ in range(4):
        a.sum()
    return {"python_loop_s": t1 - t0, "mem_sum_s": time.perf_counter() - t2}


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen from this machine by its hypervisor: a busy
    neighbour on a shared host shows up here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def tree_cpu_s(pids: list[int]) -> float:
    """user+sys CPU seconds of the processes, plus what their reaped children
    left in cutime/cstime."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


SAMPLE_INTERVAL_S = 0.05
STOP_TIMEOUT_S = 60.0


class TreeSampler:
    """Samples the summed RSS of this process's tree every SAMPLE_INTERVAL_S
    from a background thread while a call runs; CPU is read from /proc at
    start and stop."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(descendants(self.root)))
            self.samples += 1
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = tree_cpu_s(descendants(self.root))
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        pids = descendants(self.root)
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(pids))
        self.cpu_s = tree_cpu_s(pids) - self._cpu0


# ---------------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written at exit.
    Times are seconds since the tracer was created."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]


# ------------------------------------------------------------- Spark readers


def persisted_rdd_count(sc) -> int:
    return len(sc._jsc.getPersistentRDDs())


def clear_spark_cache(spark) -> int:
    """Drop every cached Dataset and persisted RDD; returns how many RDDs
    were still persisted beforehand. Raises if any survive."""
    sc = spark.sparkContext
    before = persisted_rdd_count(sc)
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    left = persisted_rdd_count(sc)
    if left:
        raise RuntimeError(f"{left} persisted RDDs survived clearing the cache")
    return before


def last_sql_execution_id(spark) -> int:
    ids = [-1]
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        ids.append(it.next().executionId())
    return max(ids)


def engine_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, executor time and shuffle bytes of one job group,
    from the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
    }
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out


# PythonSQLMetrics names as the SQL status store shows them
ARROW_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_TOTAL_RE = re.compile(r"^([0-9][0-9.,]*)\s*([A-Za-z]+)?")


def parse_metric_total(text: str) -> float:
    """The total of a formatted SQL metric, e.g.
    'total (min, med, max (stageId: taskId))\\n14.1 s (3.5 s, ...)' -> 14.1.
    Spark formats these for display, so sizes and times keep 3-4 digits."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL_RE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def arrow_stats(spark, after_execution_id: int) -> dict:
    """Sum PythonSQLMetrics over the ArrowEvalPython nodes of every SQL
    execution newer than ``after_execution_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {"nodes": 0, **{v: 0.0 for v in ARROW_METRICS.values()}}
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        if eid <= after_execution_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "ArrowEvalPython":
                continue
            out["nodes"] += 1
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = ARROW_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key is not None and v.isDefined():
                    out[key] += parse_metric_total(v.get())
    return out


# ---------------------------------------------------------------- host context


def host_context(k: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "k": k,
        "cpu_model": cpu,
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


# -------------------------------------------------------------- Spark session


def start_spark(data_dir: str, k: int, driver_memory: str = "2g"):
    """A local[K] session through the package's own factory, with 2K shuffle
    partitions (the sizing bench.py uses for local[K]; get_spark's default
    of 32 is set for a cluster), every scratch file (shuffle, broadcast, JVM
    and Python temp files) kept under ``data_dir`` and a bounded driver heap
    (2 GB unless asked)."""
    from kenlm_rs_spark.spark.session import get_spark

    tmp = os.path.join(data_dir, "tmp")
    local = os.path.join(data_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-submit first runs a small launcher JVM, which reads only this
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    spark = get_spark(
        "perfbench",
        master=f"local[{k}]",
        shuffle_partitions=2 * k,
        extra_conf={
            "spark.driver.memory": driver_memory,
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(data_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until no process this one
    started is left."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=STOP_TIMEOUT_S)
    me = os.getpid()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        stats = {p: _stat_fields(p) for p in descendants(me) if p != me}
        left = [p for p, f in stats.items() if f is not None and f[0] != "Z"]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.1)
