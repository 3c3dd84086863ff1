"""The Spark session the benchmark runs on, and facts about the host.

The session is sized to the host: ``local[nproc]`` and a driver heap of a
quarter of RAM, at most 4 GiB. Python workers inherit the repository on
their ``PYTHONPATH`` from the driver, so the benchmark works from any
working directory. Spark's scratch space and every temp file stay under
the run's work directory.
"""

from __future__ import annotations

import json
import os
import platform
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_session(root: str, work: str, cores: int):
    """→ (spark, seconds the session took to start).

    Everything goes through the environment, which ``get_spark``, the
    JVMs and the Python workers read: workers inherit PYTHONPATH from the
    driver, and every JVM keeps its temp files in the work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(4096, ram_mb() // 4)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    t0 = time.perf_counter()
    from lucene_solr_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and every Python worker it
    started have exited (workers left after 30 s are killed)."""
    from pyspark import SparkContext
    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """False once the process is gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    """Spark jobs launched under a job group, and the tasks they ran
    (stages skipped because their output was cached run none)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else []):
            st = tracker.getStageInfo(s)
            tasks += st.numCompletedTasks if st else 0
    return len(jobs), tasks


def control_scan(spark) -> float:
    """A fixed pure-JVM job (xxhash64 fold over a range): no Python and no
    engine code, so it reads host speed, not engine speed."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    (spark.range(0, 4_000_000, 1, 8).select(F.xxhash64("id").alias("h"))
     .agg(F.expr("bit_xor(h)")).collect())
    return time.perf_counter() - t0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of a process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakRss:
    """Samples the RSS of this process tree (driver, JVM, Python workers)
    every 0.25 s on a background thread."""

    def __init__(self):
        self.kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def mb(self) -> float:
        return self.kb / 1024

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            pids = [os.getpid(), *descendants(os.getpid())]
            self.kb = max(self.kb, sum(_rss_kb(p) for p in pids))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=10)


def git_commit(root: str) -> str:
    """HEAD's commit from the checkout's .git, or "unknown" outside git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        loose = os.path.join(root, ".git", ref)
        if os.path.exists(loose):
            with open(loose) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def describe(spark, root: str, workload: str, seed: int, cores: int) -> str:
    """One JSON line of run context, so draws from different hosts can be
    read side by side."""
    return json.dumps({
        "workload": workload, "seed": seed, "nproc": cores,
        "ram_mb": ram_mb(), "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "commit": git_commit(root)})
