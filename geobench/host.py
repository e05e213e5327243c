"""Host-sized Spark session and the /proc readings the benchmark reports.

The session takes its size from the machine it runs on, not from constants
tuned for another one:

* ``local[N]`` with N = the CPUs this process may run on (what ``nproc``
  prints once OMP_NUM_THREADS is unset).
* Spark's default driver heap (1 GiB), lowered to a quarter of
  MemAvailable on a host too small for it, fixed in size and touched at
  start (``-Xms`` = ``-Xmx``, ``AlwaysPreTouch``). A larger or growing heap
  buys nothing at these input sizes and makes peak RSS follow G1's
  heap-growth timing: on a 4-core, 15 GB host a growing 3.8 GiB heap gave
  2.1-4.4 GB peaks across seeds, a growing 1 GiB heap 1.5-2.1 GB, a fixed
  1 GiB heap 2.0-2.1 GB over a whole run.
* The Spark settings ``scripts/run_pipeline.py`` sets (AQE, skew join, UTC),
  and nothing that changes the engine's own choices: no split size, no
  shuffle width, no GC flag. Choosing those is the engine's job, and a user
  of ``run_pipeline`` gets the defaults.

The settings that remain only keep the run inside its work directory (local
dirs, JVM temp dir, no hsperfdata file) and turn off the web UI and the
console progress bar.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb() -> int:
    return min(1024, mem_available_mb() // 4)


def use_workdir(workdir: str) -> tuple[str, str]:
    """Point this process's and its children's scratch files into
    ``workdir``; returns (temp dir, Spark local dir). Call it before any
    worker process or JVM starts: they read the environment once."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return tmp, local


def build_session(workdir: str):
    """A ``local[N]`` session whose scratch files all live under ``workdir``."""
    from pyspark.sql import SparkSession

    tmp, local = use_workdir(workdir)
    heap_mb = driver_memory_mb()
    spark = (
        SparkSession.builder.master(f"local[{host_cpus()}]")
        .appName("geobench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Every process a run starts ends with it
# ---------------------------------------------------------------------------

def children_by_parent() -> dict[int, list[int]]:
    """Parent pid -> the pids of its children, for every process in /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name may contain spaces; ppid follows its closing ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


PR_SET_CHILD_SUBREAPER = 36


class _Signalled(Exception):
    def __init__(self, signum: int):
        super().__init__(signum)
        self.signum = signum


def _raise_signalled(signum, _frame):
    raise _Signalled(signum)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_children(settle_s: float = 2.0, grace_s: float = 10.0) -> None:
    """Return once this process has no child left.

    A child gets ``settle_s`` to end by itself, then SIGTERM, then SIGKILL
    after ``grace_s`` more. The loop runs until no child is left, because
    ending one child can hand its own children to this process."""
    seen: dict[int, float] = {}
    while True:
        _reap()
        kids = children_by_parent().get(os.getpid())
        if not kids:
            return
        now = time.monotonic()
        for pid in kids:
            age = now - seen.setdefault(pid, now)
            sig = (signal.SIGKILL if age > settle_s + grace_s
                   else signal.SIGTERM if age > settle_s else None)
            if sig is not None:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(cmd: list[str], env: dict, deadline_s: float) -> int:
    """Run ``cmd`` and return its exit code once it, and every process it
    started, has ended.

    Not every process a run starts is one it can wait for: the JVM starts
    the PySpark daemon and its workers in a process group of their own, and
    multiprocessing's resource tracker outlives the process that started it
    by design. This process makes itself a child subreaper, so such an
    orphan is handed to it instead of to init, and ends and reaps them all
    before it returns. A run still going at ``deadline_s`` is stopped and
    gives 124; a SIGTERM or SIGINT to this process stops the run and gives
    128 + the signal number."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _raise_signalled)
    try:
        proc = subprocess.Popen(cmd, env=env)
        try:
            return proc.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            print(f"geobench: the run passed its {deadline_s:.0f} s deadline; "
                  "stopping it", file=sys.stderr)
            return 124
    except _Signalled as s:
        return 128 + s.signum
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)
        end_children()


# ---------------------------------------------------------------------------
# Resident memory of the JVM and the Python workers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None  # ended, or not ours to inspect


def engine_pids(pid: int) -> list[int]:
    """The JVM this process launched and the Python processes below it (the
    PySpark daemon and workers, which run this interpreter).

    Anything else below the JVM is a helper it spawns; until that child
    calls exec it shares the JVM's pages and reports the JVM's RSS as its
    own, which would count the JVM twice."""
    kids = children_by_parent()
    python = os.path.realpath(sys.executable)
    jvms = [c for c in kids.get(pid, ()) if os.path.basename(_exe(c) or "") == "java"]
    out, todo = list(jvms), [k for j in jvms for k in kids.get(j, ())]
    while todo:
        c = todo.pop()
        if _exe(c) == python:
            out.append(c)
            todo.extend(kids.get(c, ()))
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass  # the process ended between listing and reading
    return total * _PAGE / 2**20


class RssPeak:
    """Samples the summed RSS of the driver JVM and its Python workers
    while it is active."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(engine_pids(me)))
            if self._stop.wait(self.interval_s):
                return
