"""Host facts, the Spark session the benchmark runs on, and /proc probes.

Everything the session needs is derived from the host it runs on:
parallelism from the CPU count (``nproc``), driver heap from
``MemTotal``. Every path Spark, the JVM or the Python workers write to
is placed under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from dataclasses import dataclass

# the checkout root: the directory holding perfbench/ and ktpm___ocr_spark/
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(total_mb: int) -> int:
    """A quarter of physical memory, between 1 GiB and 8 GiB: in local
    mode the driver heap is the whole engine's heap, and the Python
    workers (one per core) live outside it."""
    return max(1024, min(8192, total_mb // 4))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests: a run with a high share
    was slowed by its neighbours, not by the engine."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


@dataclass(frozen=True)
class Host:
    cpus: int
    mem_mb: int

    @classmethod
    def detect(cls) -> "Host":
        return cls(cpus=nproc(), mem_mb=mem_total_mb())

    @property
    def heap_mb(self) -> int:
        return driver_heap_mb(self.mem_mb)


def _git_sha(root: str) -> str | None:
    """The checkout's commit; None for a source tree that is not a git
    repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def java_version() -> str | None:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else None


def stamp(host: Host) -> dict:
    """Run context that every result carries; the caller adds the load
    at the end of the run."""
    import pyarrow
    import pyspark

    load = loadavg_1m()
    return {
        "nproc": host.cpus,
        "mem_total_mb": host.mem_mb,
        "driver_heap_mb": host.heap_mb,
        "loadavg_1m_start": load,
        "noise_suspect": load > 0.5 * host.cpus,
        "git_sha": _git_sha(ROOT),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java_version(),
    }


def start_session(host: Host, work: str, event_log_dir: str | None = None):
    """The engine's own session (``ktpm___ocr_spark.session.get_spark``)
    with host-derived parallelism and heap. ``event_log_dir`` turns on
    Spark's uncompressed event log, the source of the per-layer metrics.

    Calling it again after ``spark.stop()`` starts a new SparkContext in
    the same JVM."""
    from ktpm___ocr_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # read when the JVM starts
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": f"{host.heap_mb}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Python workers import the engine whatever their cwd
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.executorEnv.TMPDIR": tmp,
        # task attempts are counted from the status tracker; keep them all
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log_dir,
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{host.cpus}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def task_attempts(spark) -> tuple[int, int]:
    """(attempted, failed) task attempts over every stage of every job
    the current SparkContext has run, read from its status tracker (job
    ids count up from 0 within a context)."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids: set[int] = set()
    job = 0
    while (info := tracker.getJobInfo(job)) is not None:
        stage_ids.update(info.stageIds)
        job += 1
    attempted = failed = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is not None:
            attempted += st.numCompletedTasks + st.numFailedTasks
            failed += st.numFailedTasks
    return attempted, failed


def shutdown(spark) -> None:
    """Stop the SparkContext and the JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    pids = process_tree(jvm_pid(spark))
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Running, i.e. neither gone nor a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM's Python daemon and
    workers)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def pin(root: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of ``root`` and its
    descendants. Threads and workers created later inherit the mask of
    their creator, so pinning the JVM and the Python daemon pins the
    whole engine."""
    for pid in process_tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass  # thread exited between listing and pinning


class RssSampler:
    """Peak summed resident memory of the JVM and its Python workers,
    sampled from /proc on a background thread."""

    INTERVAL_S = 0.1

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak_kb = 0
        self.peak_detail: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            tree = process_tree(self.root)
            per = [_rss_kb(p) for p in tree]
            kb = sum(per)
            if kb > self.peak_kb:
                self.peak_kb = kb
                self.peak_detail = {"jvm_mb": per[0] / 1024, "procs": len(tree), "others_mb": sum(per[1:]) / 1024}
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

