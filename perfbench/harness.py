"""Run loop shared by every workload: environment, session set-up,
timed jobs, process-tree RSS, spans.

Everything the benchmark writes stays under ``<checkout>/.perfbench``:
Spark's local dirs, the JVM and Python temp dirs, the inputs and the
result files.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(WORK, "scratch")
RESULTS = os.path.join(WORK, "results")

# Set-up is repeated in every run and reported as the median. The first
# repetition also launches the JVM; the others restart the session on it.
SETUP_REPS = 5
# A run keeps starting timed jobs until --seconds have passed and at
# least this many jobs have finished (after one untimed warm-up job).
MIN_JOBS = 3
MAX_CORES = 4


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb(mem_mb: float) -> int:
    """A third of host memory, 1 to 8 GiB: the engine's 48g default
    cannot start on a small host."""
    return int(max(1, min(8, mem_mb / 1024.0 / 3)))


def prepare_environment() -> dict:
    """Point every temp and spill dir into the checkout and size the
    driver heap from the host. Must run before the JVM is launched."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    tmp = os.path.join(SCRATCH, "tmp")
    local = os.path.join(SCRATCH, "spark-local")
    for d in (tmp, local, RESULTS):
        os.makedirs(d, exist_ok=True)
    mem = mem_total_mb()
    heap = driver_heap_gb(mem)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the JVMs' own temp files (native-library unpacking) and perf-data
    # files would otherwise land in /tmp: both the launcher JVM that
    # spark-submit starts first and the driver JVM. A driver heap
    # committed at its full size up front keeps peak memory from
    # depending on when the collector chose to grow it.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var, opts in (("SPARK_LAUNCHER_OPTS", jvm_opts), ("SPARK_SUBMIT_OPTS", f"{jvm_opts} -Xms{heap}g")):
        os.environ[var] = (os.environ.get(var, "") + " " + opts).strip()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem, 1),
        "python": platform.python_version(),
        "cores": cores,
        "driver_heap": f"{heap}g",
    }


def start_session(cores: int):
    """(spark, session start seconds, engine ship seconds)."""
    from engine.deploy import ensure_shipped
    from engine.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t1 = time.perf_counter()
    ensure_shipped(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (PySpark would otherwise leave it to die with this process)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that hangs must still go
            proc.kill()
            proc.wait(timeout=30)


def host_facts(spark) -> dict:
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "master": spark.sparkContext.master,
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
    }


# --- process-tree memory ------------------------------------------------------


def tree_pss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (driver,
    JVM, Python workers), summed as PSS: pages that forked Python workers
    share with their daemon count once, where plain RSS would count them
    once per live worker."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Samples the process-tree memory on a thread while a job runs."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> MemorySampler:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# --- spans ---------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent index) and written
    out with the result."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children_of(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def timed(fn, reps: int = 3) -> float:
    """Median wall time of ``fn()`` over ``reps`` calls."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def noop(df) -> None:
    """Run a plan to completion and discard its rows (a prefix cut)."""
    df.write.format("noop").mode("overwrite").save()
