"""Shared plumbing for the benchmark: checkout paths, machine sizing, the
child-process environment, process-tree memory sampling and statistics.

Everything the benchmark writes lives under ``<checkout>/.perfbench`` so a
run reads and writes only inside its checkout.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data")


def process_start_perf() -> float:
    """``time.perf_counter()`` value at which this process was created
    (from /proc), so set-up time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.perf_counter() - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return time.perf_counter()


def machine() -> dict:
    """What each run records about the box it ran on."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    import pyspark
    return {"nproc": nproc(), "mem_total_mb": mem_kb // 1024,
            "loadavg": os.getloadavg()[0], "pyspark": pyspark.__version__,
            "java": java, "python": sys.version.split()[0]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, capped at 8 GB: the driver JVM shares
    the box with its Python workers and the benchmark's own process."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(1024, min(8192, mem_kb // 1024 // 4))}m"


def master() -> str:
    return f"local[{nproc()}]"


def configure_env(trace_conf_dir: str | None = None) -> dict:
    """Set this process's environment for the library-default lanes and the
    machine-sized session, and return it for child processes.

    Every ``DCSPARK_*`` override is removed so the measured path is the one
    library users run. Temp, shuffle and JVM scratch space go under the
    checkout. ``trace_conf_dir`` points Spark at a ``spark-defaults.conf``
    that turns the event log on (traced runs only)."""
    for key in [k for k in os.environ if k.startswith("DCSPARK_")]:
        del os.environ[key]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, DATA):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"]
                              if os.environ.get("PYTHONPATH") else ""),
    })
    if trace_conf_dir:
        os.environ["SPARK_CONF_DIR"] = trace_conf_dir
    else:
        os.environ.pop("SPARK_CONF_DIR", None)
    import tempfile
    tempfile.tempdir = tmp
    return dict(os.environ)


def write_trace_conf(trace_dir: str) -> tuple[str, str]:
    """(conf dir, event dir) under ``trace_dir``: the conf dir's Spark
    defaults turn on an uncompressed, unrolled event log in the event dir."""
    conf = os.path.join(trace_dir, "conf")
    event_dir = os.path.join(trace_dir, "events")
    os.makedirs(conf, exist_ok=True)
    os.makedirs(event_dir, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.eventLog.enabled true\n"
                f"spark.eventLog.dir file://{event_dir}\n"
                "spark.eventLog.compress false\n"
                "spark.eventLog.rolling.enabled false\n")
    return conf, event_dir


class TreeRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) every ``interval`` seconds and keeps
    the peak of the sum."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(root))
            self._stop.wait(self.interval)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, int]]]:
    """(children by parent pid, (state, rss pages) by pid) for every process."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        info[pid] = (fields[0], int(fields[21]))
    return children, info


def _descendants(root: int) -> tuple[list[int], dict[int, tuple[str, int]]]:
    children, info = _proc_table()
    found, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        found.append(pid)
        stack.extend(children.get(pid, []))
    return found, info


def _tree_rss_kb(root: int) -> int:
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    pids, info = _descendants(root)
    return sum(info[pid][1] for pid in [root] + pids if pid in info) * page_kb


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    orphaned by its parent's exit (a Python worker when the JVM leaves, a
    CLI child's JVM) is re-parented here, so it can be stopped and waited
    for."""
    import ctypes
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace_s: float = 15.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM outlives ``SparkSession.stop()``: it exits when the
    gateway's stdin pipe closes, which otherwise happens only as this
    interpreter exits. So close that pipe first and give the JVM
    ``grace_s`` to leave; then SIGTERM every remaining descendant, SIGKILL
    any still there after another ``grace_s``, and reap until none is left."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + grace_s
    sent: dict[int, int] = {}
    while True:
        _reap()
        pids, info = _descendants(os.getpid())
        live = [p for p in pids if info[p][0] != "Z"]
        if not pids:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in live:
            if sent.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) — the cut points ``statistics.quantiles`` gives,
    with a single value standing for all three."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3
