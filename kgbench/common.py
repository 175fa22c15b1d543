"""Shared plumbing for the KG benchmark: environment, Spark session,
process-tree CPU/RSS probes, Spark status counters, set fingerprints and
summary statistics.

Everything the benchmark writes goes under ``<checkout>/.kgbench_work``
(inputs, stores, Spark scratch, temp files; removed when a run ends) or
``<checkout>/.kgbench_out`` (span dumps).  Git ignores both.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
OUT = os.path.join(ROOT, ".kgbench_out")

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: identity columns of a canonical triple (rdf_spark.canonical.dedup_key)
TRIPLE_KEY = ["s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]


class BenchError(RuntimeError):
    """The benchmark cannot run here (no program to measure)."""


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers inside the checkout, and make ``rdf_spark`` importable by the
    workers the JVM spawns."""
    if not os.path.isdir(os.path.join(ROOT, "rdf_spark")):
        raise BenchError(f"no rdf_spark package under {ROOT}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                    "-Dspark.ui.showConsoleProgress=false")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(ncpu()))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(cores: int):
    from rdf_spark.session import get_spark

    spark = get_spark("kgbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# -- process tree ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """user+sys CPU seconds of the process tree, including reaped
    children (cutime/cstime) — the driver, the JVM, the PySpark daemon
    and its workers."""
    total = 0
    for p in pids or tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def rss_mb(pids: list[int]) -> dict[int, float]:
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * _PAGE / 2**20
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Background sampler of the process tree's resident memory: ``peak``
    is the largest sum seen between ``start`` and ``stop``, ``peak_py``
    the largest sum over the tree without the JVM ``jvm_pid`` (the Python
    driver and the Python workers)."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = self.peak_py = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self, pids: list[int]) -> None:
        rss = rss_mb(pids)
        total = sum(rss.values())
        self.peak = max(self.peak, total)
        self.peak_py = max(self.peak_py, total - rss.get(self.jvm_pid, 0.0))

    def _run(self) -> None:
        pids = tree_pids()
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:  # the worker set changes rarely
                pids = tree_pids()
            self.sample(pids)
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self.sample(tree_pids())
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample(tree_pids())


def calibrate() -> float:
    """Seconds a fixed pure-Python loop takes on one core: compares the
    machine's speed between runs."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_gc_s(jvm) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def jvm_heap_used_mb(jvm) -> float:
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


class Pass:
    """Measure one timed pass: wall, process-tree CPU, peak RSS of the tree
    and of its Python processes, the driver JVM's GC time and heap in use
    after the pass, and the 1-minute load average before and after (a
    diagnostic)."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._jvm_pid = spark.sparkContext._gateway.proc.pid

    def __enter__(self) -> "Pass":
        self.load_before = loadavg1()
        self._gc0 = jvm_gc_s(self._jvm)
        self._rss = RssSampler(self._jvm_pid).__enter__()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        self._rss.__exit__()
        self.peak_rss_mb = self._rss.peak
        self.py_peak_rss_mb = self._rss.peak_py
        self.gc_s = jvm_gc_s(self._jvm) - self._gc0
        self.heap_used_mb = jvm_heap_used_mb(self._jvm)
        self.load_after = loadavg1()

    def record(self) -> dict:
        return {
            "wall_s": self.wall_s, "cpu_s": self.cpu_s,
            "peak_rss_mb": self.peak_rss_mb, "py_peak_rss_mb": self.py_peak_rss_mb,
            "jvm_gc_s": self.gc_s,
            "jvm_heap_used_mb": self.heap_used_mb,
            "loadavg1_before": self.load_before,
            "loadavg1_after": self.load_after,
        }


# -- statistics ----------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# -- Spark-side helpers ---------------------------------------------------------

def force(df) -> None:
    """Run a DataFrame's full plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df) -> tuple[int, int, int]:
    """Order-independent fingerprint of a set of canonical triples:
    (rows, Σ xxhash64, Σ murmur3) over the identity columns.  One dropped,
    extra or altered triple changes it."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in TRIPLE_KEY]
    r = df.select(
        F.xxhash64(*cols).cast("decimal(38,0)").alias("h1"),
        F.hash(*cols).cast("long").alias("h2"),
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h1").alias("h1"),
        F.sum("h2").alias("h2"),
    ).collect()[0]
    return int(r.n), int(r.h1 or 0), int(r.h2 or 0)


def canonical_metrics(span: dict, n_in: int, n_out: int, n_invalid: int,
                      tag: str = "") -> dict:
    return {
        f"canonical.{tag}busy_s": metric(span["end"] - span["start"], "s"),
        f"canonical.{tag}rows_in": metric(int(n_in), "rows"),
        f"canonical.{tag}rows_out": metric(int(n_out), "rows"),
        f"canonical.{tag}dedup_ratio": metric(n_out / n_in, "ratio"),
        f"canonical.{tag}invalid_rows": metric(int(n_invalid), "rows"),
    }


def store_write_metrics(span: dict, store_dir: str, n_triples: int,
                        tag: str = "") -> dict:
    nbytes, nfiles = dir_bytes_files(store_dir, ".parquet")
    return {
        f"store.{tag}write_s": metric(span["end"] - span["start"], "s"),
        f"store.{tag}bytes_per_triple": metric(nbytes / n_triples, "B/triple"),
        f"store.{tag}files_written": metric(nfiles, "count"),
    }


def dir_bytes_files(path: str, suffix: str = "") -> tuple[int, int]:
    total = n = 0
    for d, _, files in os.walk(path):
        for name in files:
            if name.endswith(suffix) and not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, name))
                n += 1
    return total, n


def drain_listeners(sc) -> None:
    """Wait until the listener bus has delivered every event posted so far:
    the status tracker and the SQL status store are fed from it
    asynchronously, so a job that has just ended may not show yet."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)


class JobCounter:
    """Exact Spark job/stage/task counts for the jobs run under one job
    group, read from ``sc.statusTracker()`` (works without the UI)."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        gid = f"kgbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def counts(self, gid: str) -> dict:
        drain_listeners(self.sc)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def storage_held(sc) -> tuple[int, int]:
    """(persisted RDDs, cached bytes in memory + on disk) still held."""
    drain_listeners(sc)
    jsc = sc._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    nbytes = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    return int(jsc.getPersistentRDDs().size()), nbytes


def _sql_status(spark):
    drain_listeners(spark.sparkContext)
    return spark._jsparkSession.sharedState().statusStore()


def last_sql_execution(spark) -> int:
    """Id of the session's latest SQL execution (a marker for
    :func:`partitions_read`), -1 before the first."""
    store = _sql_status(spark)
    last = store.executionsList(max(0, store.executionsCount() - 1), 1)
    return int(last.head().executionId()) if last.nonEmpty() else -1


def partitions_read(spark, since: int) -> int:
    """The largest "number of partitions read" of any scan of a
    partitioned table in the SQL executions after marker ``since`` (at
    most the last 100), as the scans themselves report it.  (The plan text
    abbreviates long paths, so scans are not told apart by path.)"""
    store = _sql_status(spark)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    most = 0
    recent = store.executionsList(max(0, store.executionsCount() - 100), 100)
    for e in conv.asJava(recent):
        if e.executionId() <= since:
            continue
        values = conv.asJava(store.executionMetrics(e.executionId()))
        for node in conv.asJava(store.planGraph(e.executionId()).allNodes()):
            if not node.name().startswith("Scan"):
                continue
            for mt in conv.asJava(node.metrics()):
                v = values.get(mt.accumulatorId())
                if mt.name() == "number of partitions read" and v is not None:
                    most = max(most, int(v.replace(",", "")))
    return most
