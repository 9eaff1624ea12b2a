"""Host sizing, session lifecycle, memory sampling and check tallies."""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import threading
import time
from dataclasses import dataclass, field

SETUP_ROUNDS = 3
MAX_HEAP_MB = 2048


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(repo_root: str, work: str) -> None:
    """Size the program to the host and keep its files under ``work``.
    Must run before ``training_etl_demo_2_spark.session`` is imported:
    it reads ``SPARK_GRAFT_CPUS`` at import time, and the JVM options
    apply only at launch."""
    heap_mb = min(MAX_HEAP_MB, host_ram_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host_cpus()),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        # A fixed-size heap: a growable one expands by how hard the host
        # is contended while GC runs, which would make peak RSS noise.
        # Heap pages are touched only as used, so peak RSS still follows
        # the old generation's high-water mark; the traced run reports
        # that mark itself as jvm.old_gen_peak_mb.
        SPARK_GRAFT_JAVA_OPTS=(
            f"-XX:+UseParallelGC -Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Python workers are forked by the JVM and import the package
        # by name, so it must be importable from anywhere.
        PYTHONPATH=os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
        ),
    )


class Session:
    """Start, restart and stop the program's SparkSession. A start after
    :meth:`close` launches a new JVM; a start after :meth:`stop` builds
    a new SparkContext on the running one."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self.eventlog_dir = os.path.join(work, "eventlog")

    def start(self, trace: bool = False):
        from training_etl_demo_2_spark.session import get_spark

        self.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": str(trace).lower(),
        }
        if trace:
            shutil.rmtree(self.eventlog_dir, ignore_errors=True)
            os.makedirs(self.eventlog_dir)
            conf.update(
                {
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.logBlockUpdates.enabled": "true",
                    "spark.eventLog.includeTaskMetricsAccumulators": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited
        (its Python workers exit with it)."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def tree_rss_pages(stats: dict[int, tuple[int, int, int]], root: int) -> tuple[int, int]:
    """Resident pages of ``root`` and its descendants, and how many
    processes were counted, from ``{pid: (ppid, vsize, rss_pages)}``.
    A child whose virtual size and resident pages are both within 1% of
    its parent's is skipped: it still shares its parent's memory (a fork
    or spawn not yet exec'd, as the JVM makes to run a command), and
    counting it would count that memory twice. The 1% allows for the
    parent's mappings changing between the two reads."""
    total = procs = 0
    for pid, (ppid, vsize, rss) in stats.items():
        p = pid
        while p not in (0, 1, root) and p in stats:
            p = stats[p][0]
        if p != root:
            continue
        if pid != root and ppid in stats:
            _, p_vsize, p_rss = stats[ppid]
            if abs(vsize - p_vsize) <= p_vsize / 100 and abs(rss - p_rss) <= p_rss / 100:
                continue
        total += rss
        procs += 1
    return total, procs


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled every ``interval_s``.
    :meth:`take_peak` returns the peak since the previous call and how
    many processes the tree held at that peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._sampling = threading.Lock()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> tuple[int, int]:
        """Summed RSS in bytes of the process tree, and how many
        processes it counted."""
        # One read of /proc/<pid>/stat per process: it holds the parent
        # (field 4), the virtual size (23) and the resident pages (24).
        # The sampler shares the driver's interpreter with the program,
        # so it is kept cheap.
        stats: dict[int, tuple[int, int, int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    fields = f.read().rsplit(b")", 1)[1].split()
                stats[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]))
            except (OSError, IndexError, ValueError):
                continue  # exited between listing and reading
        pages, procs = tree_rss_pages(stats, os.getpid())
        return pages * self._page, procs

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._sampling:
                sample, procs = self.tree_rss()
                if sample > self.peak_bytes:
                    self.peak_bytes, self.peak_procs = sample, procs
            self._stop.wait(self.interval_s)

    def take_peak(self) -> tuple[int, int]:
        with self._sampling:
            peak = self.peak_bytes, self.peak_procs
            self.peak_bytes = self.peak_procs = 0
        return peak

    @contextlib.contextmanager
    def paused(self):
        """No sample is taken inside this block (the contention probe's
        matrices are the harness's memory, not the program's)."""
        with self._sampling:
            yield

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def contention_probe() -> float:
    """The bench's single-thread BLAS burst (seconds for four 1200x1200
    matmuls): context for reading a rep's time, never used to drop or
    re-time one."""
    import numpy as np

    a = np.random.RandomState(0).rand(1200, 1200)
    t0 = time.perf_counter()
    for _ in range(4):
        a = 0.5 * (a @ a) / np.linalg.norm(a)
    return time.perf_counter() - t0


@dataclass
class Tally:
    """Operations and output checks attempted, and how many failed."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
