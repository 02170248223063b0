"""Host-sized Spark session, host stamp, process-tree memory sampling and
output accounting for the benchmark.  Nothing here changes the
``kgspark`` package: the session comes from ``kgspark.session.get_session``
with the engine's standard configuration, sized from this host."""

from __future__ import annotations

import os
import platform
import signal
import sys
import tempfile
import threading
import time

MB = 1024 * 1024


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    """Usable memory: MemTotal, capped by a cgroup v2 limit when set."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw) // MB)
    except OSError:
        pass
    return total


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def driver_heap_mb(mem_mb: int) -> int:
    """A quarter of the host's memory, 1-8 GB: local mode runs every task
    in the driver JVM, and the Python workers (one per core) need the
    rest."""
    return max(1024, min(8192, mem_mb // 4))


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit: the package
    root on PYTHONPATH (UDF workers import ``kgspark`` from any working
    directory), this interpreter for the workers, and temp files inside
    the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)


def session(work: str, cpus: int, event_log_dir: str | None = None):
    from kgspark.session import get_session

    tmp = os.path.join(work, "tmp")
    heap = driver_heap_mb(host_mem_mb())
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # the whole heap committed and touched at start: without it the
        # JVM's share of peak RSS follows when G1 chose to grow the heap
        # (2.8 vs 3.4 GB on identical runs); with it peak_rss_mb moves
        # with the Python workers and off-heap memory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap}m -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session(master=f"local[{cpus}]", app_name="perfbench",
                       shuffle_partitions=cpus,
                       driver_memory=f"{heap}m",
                       extra_conf=conf)


def _proc_start(pid: int) -> str | None:
    """Start time of ``pid`` (ticks since boot), or None once it has
    ended; with the pid it names one process even if the pid is reused.
    A zombie whose group leader has exited while other threads still run
    (the JVM shutting down shows as ``Zl``) has not ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        if fields[0] in ("Z", "X") and len(os.listdir(f"/proc/{pid}/task")) <= 1:
            return None
    except (OSError, IndexError):
        return None
    return fields[19]


def _children() -> dict[int, list[int]]:
    """{ppid: [pid, ...]} over every process in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root: int) -> dict[int, str]:
    """{pid: start time} of every live process below ``root``."""
    children = _children()
    found, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        start = _proc_start(pid)
        if start is not None:
            found[pid] = start
        todo.extend(children.get(pid, ()))
    return found


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(procs: dict[int, str]) -> dict[int, str]:
    _reap_children()
    return {pid: st for pid, st in procs.items() if _proc_start(pid) == st}


def _kill(procs: dict[int, str], sig: int) -> None:
    for pid in _alive(procs):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    deadline = time.monotonic() + timeout
    left = _alive(procs)
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = _alive(left)
    return left


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so the JVM's children stay below it, and in
    ``descendants``, after the JVM has ended."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def shutdown(spark=None, grace: float = 30.0) -> None:
    """Stop the Spark session, then the JVM it runs in (pyspark leaves the
    gateway JVM up until the Python process exits, and the JVM outlives it
    while it shuts down), and every other process this one started; wait
    until each has ended.  Safe to call with no session and more than
    once."""
    from pyspark import SparkContext

    # taken before anything stops: without the subreaper, once the JVM
    # ends its children (the Python worker daemon and its forks) are no
    # longer below this process
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None and proc.stdin is not None:
            # the gateway JVM exits on EOF on its stdin
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = SparkContext._jvm = None
        procs.update(descendants(os.getpid()))
        left = _wait_gone(procs, grace)
        # anything started after the first look, still below this process
        left.update(descendants(os.getpid()))
        if left:
            _kill(left, signal.SIGTERM)
            left = _wait_gone(left, 10.0)
        if left:
            _kill(left, signal.SIGKILL)
            left = _wait_gone(left, 30.0)
        left.update(descendants(os.getpid()))
        if proc is not None:
            proc.poll()
        if left:
            print(f"perfbench: processes still running after shutdown: {sorted(left)}",
                  file=sys.stderr)


def host_stamp(spark) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": host_cpus(),
        "mem_mb": host_mem_mb(),
        "cpu_model": cpu_model(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "driver_heap_mb": driver_heap_mb(host_mem_mb()),
    }


class TreeRssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc every ``interval``
    seconds while a window is open."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._lock = threading.Lock()
        self._peak = 0
        self._open = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def open_window(self) -> None:
        with self._lock:
            self._peak = 0
            self._open = True
        self._sample()

    def close_window(self) -> float:
        """Peak MB since ``open_window``."""
        self._sample()
        with self._lock:
            self._open = False
            return self._peak / MB

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def _sample(self) -> None:
        with self._lock:
            if not self._open:
                return
        rss = self.tree_rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)

    def tree_rss_bytes(self) -> int:
        """Summed RSS of this process tree.  A child whose virtual size
        equals its parent's has not diverged from the parent's address
        space (a vfork/posix_spawn child that has not exec'd yet, as when
        the JVM starts a helper, or a fork not yet written to): its pages
        are the parent's and are not counted twice."""
        children = _children()
        total, todo = 0, [(os.getpid(), None)]
        while todo:
            pid, parent_size = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    size, rss = f.read().split()[:2]
            except (OSError, ValueError):
                continue
            if size != parent_size:
                total += int(rss) * self._page
            todo.extend((c, size) for c in children.get(pid, ()))
        return total


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size

