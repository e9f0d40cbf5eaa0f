"""Process-level plumbing for crawlbench: the Spark session, its
shutdown, and the peak-RSS sampler over the benchmark's process tree.

Everything the session writes (Spark local dirs, JVM temp files, the
warehouse, the optional event log) lands under one work directory inside
the checkout, so a run touches nothing outside it.
"""

from __future__ import annotations

import os
import threading
import time


def task_threads() -> int:
    """Local task threads: the CPUs this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """Driver heap sized to the box: an eighth of physical memory,
    clamped to [1 GiB, 2 GiB] (the machine is shared; a crawl at benchmark
    scale never needs more).  The heap starts at this size too, so
    resident memory does not depend on when the collector chose to grow
    it."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:
            total_mb = 8192
    return max(1024, min(2048, total_mb // 8))


def start_session(work_dir: str, event_log_dir: str | None = None):
    """A local session with no more task threads than CPUs.  Builder
    confs reach the JVM at launch (PySpark passes them to spark-submit),
    so heap size and temp dir take effect."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = task_threads()
    heap = driver_memory_mb()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("crawlbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every process this
    one started to end (Python workers exit with their JVM)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    _reap_descendants(timeout=30)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _reap_descendants(timeout: float) -> None:
    import signal

    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:  # collect our own zombie children, if any
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def _rss_bytes(pid: int) -> int:
    """Resident set size of one process (``VmRSS``); 0 once it exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited between listing and reading
    return 0


class PeakRss:
    """Peak resident memory of this process and every descendant (the
    driver JVM and its Python workers): a background thread sums the
    tree's ``VmRSS`` every ``interval_s`` and keeps the largest sum."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="crawlbench-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        me = os.getpid()
        self._peak = max(self._peak, sum(_rss_bytes(p) for p in [me] + descendants(me)))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self._peak / (1 << 20)
