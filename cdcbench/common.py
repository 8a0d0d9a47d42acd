"""Run-scoped plumbing shared by every workload: host sizing, the per-run
root, the Spark session lifecycle, peak-RSS sampling and host steal.

Everything a run writes lives under one root inside the checkout
(``.cdcbench_run/<pid>``), which ``RunRoot`` removes on every exit path.
The engine's session factory reads its sizing from the environment
(``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` / ``SPARK_LOCAL_DIRS``),
so ``configure_environment`` must run before anything imports pyspark.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import threading
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_PARENT = os.path.join(REPO_ROOT, ".cdcbench_run")
TRACE_OUT = os.path.join(REPO_ROOT, ".cdcbench_out")

# heap ceiling for the driver JVM: a quarter of the host's memory, at most
# this many MiB (the engine's own default of 48g exceeds small hosts)
_MAX_HEAP_MB = 2048


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def configure_environment(root: str) -> dict:
    """Size Spark to this host and keep every temp file under ``root``."""
    cpus = host_cpus()
    heap_mb = max(1024, min(_MAX_HEAP_MB, host_mem_mb() // 4))
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
        "PYSPARK_SUBMIT_ARGS": (
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir;
            # a fixed set of JIT compiler threads, so tree_cpu_s can tell
            # their time apart exactly (a thread that exits takes its
            # counters with it); a fixed heap size, so GC work does not
            # vary with how the heap happened to grow
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-XX:-UseDynamicNumberOfCompilerThreads -Xms{heap_mb}m' "
            f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
            "pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "heap_mb": heap_mb}


class RunRoot:
    """Per-run directory removed on normal exit, on exceptions and on
    SIGTERM/SIGINT (the handler raises so the ``finally`` blocks run)."""

    def __init__(self):
        self.path = os.path.join(RUN_PARENT, f"{os.getpid()}-{time.time_ns()}")

    def __enter__(self) -> str:
        os.makedirs(self.path)

        def _raise(signum, _frame):
            raise SystemExit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, _raise)
        return self.path

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUN_PARENT)  # only when no other run is live
        except OSError:
            pass

    def sub(self, *parts) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p


# -- Spark session lifecycle ---------------------------------------------------


def start_session():
    """A session through the engine's own factory."""
    from flink_cdc_spark.session import get_spark

    return get_spark("cdcbench")


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- RSS and CPU time of a process tree ------------------------------------------------


def _tree(root_pid: int) -> list:
    """root_pid and its descendants, from the parent ids in /proc."""
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def tree_rss_mb(root_pid: int) -> float:
    return sum(_rss_kb(pid) for pid in _tree(root_pid)) / 1024.0


def _cpu_ticks(stat_path: str) -> int:
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime
    except (OSError, IndexError, ValueError):
        return 0


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the process's JIT compiler threads (none outside a JVM;
    the JVM runs with a fixed set of them, see configure_environment)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        total += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
    return total


def tree_cpu_s(root_pid: int = None) -> float:
    """User + system CPU seconds consumed so far by the live processes of
    the tree (this process, the JVM, its Python workers), leaving out the
    JVM's JIT compiler threads: their work falls off pass by pass as the
    code warms, and would make the figure depend on how many passes a run
    fits rather than on the work each pass does."""
    ticks = 0
    for pid in _tree(root_pid or os.getpid()):
        ticks += _cpu_ticks(f"/proc/{pid}/stat") - _jit_ticks(pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid() -> int:
    """Process id of the JVM the session launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class RssSampler:
    """Samples the RSS of the engine's process tree — the JVM and the
    Python workers it forks — and keeps the peak. This benchmark's own
    process, which also holds staging and checking data, is left out."""

    def __init__(self, pid: int, interval_s: float = 0.1):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# -- host steal ------------------------------------------------------------------


def steal_reader():
    """Host steal% over a window, via the repo bench's /proc/stat reader."""
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    from bench import _host_weather, _read_proc_stat

    before = _read_proc_stat()

    def finish():
        w = _host_weather(before, _read_proc_stat())
        return None if w is None else w.get("steal_pct")

    return finish


# -- statistics --------------------------------------------------------------------


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of an empty sample")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0
