"""Measurement plumbing shared by the workloads: the host-aware Spark
session, the run directory, span tracing, Spark job attribution and
filesystem accounting. Nothing here knows what a workload does."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager
from typing import Optional

# -- host ---------------------------------------------------------------------


def host_cpus() -> int:
    """CPUs this process may run on (cpuset-aware, unlike os.cpu_count)."""
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_cores() -> int:
    return max(1, min(host_cpus(), 4))


def driver_memory_mb() -> int:
    """A quarter of host memory, capped at 4 GiB: the host is shared, and
    the largest workload input is a few tens of MiB."""
    return max(1024, min(4096, host_mem_bytes() // 4 // (1024 * 1024)))


def host_info(root: str) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "cpus": host_cpus(),
        "mem_bytes": host_mem_bytes(),
        "session_cores": session_cores(),
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
    }


# -- run directory and session --------------------------------------------------


class RunDir:
    """One directory per run for every store, page, checkpoint and Spark
    temp file; removed on exit."""

    def __init__(self, root: str, name: str):
        self.path = os.path.join(root, ".perfbench_runs", name)
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def start_session(run_dir: RunDir, repo_root: str):
    """local[min(nproc, 4)] session with the confs bench.py runs the
    engine under, and every temp path inside the run directory."""
    tmp = run_dir.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are started by the JVM and inherit this environment:
    # they must import the engine (the change-feed source runs there) and
    # keep their temp files inside the run directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM spark-submit starts: no hsperfdata file under /tmp, and
    # JIT compiler threads that live as long as the JVM (tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    from pyspark.sql import SparkSession

    cores = session_cores()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.local.dir", run_dir.sub("spark-local"))
        .config("spark.sql.warehouse.dir", run_dir.sub("warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker
    it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


# -- CPU time -------------------------------------------------------------------

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name: state, ppid,
    ..., utime, stime, cutime, cstime at 0, 1, 11, 12, 13, 14."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _is_jit_thread(stat_path: str) -> bool:
    with open(stat_path) as fh:
        comm = fh.read().split("(", 1)[1].rsplit(")", 1)[0]
    return comm.startswith(("C1 CompilerThre", "C2 CompilerThre"))


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process it
    started -- the JVM and the Python workers the JVM starts -- as the
    kernel accounts them, less the JVM's JIT compiler threads. Time the
    hypervisor steals and time spent waiting for a core are not in it,
    unlike wall time. JIT compilation is background warm-up that lands
    on whichever op it overlaps (about a third of the JVM's CPU time in
    a feed_sync run), so it is left out; the compiler threads are kept
    alive (see :func:`start_session`) so their time stays separable."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            f = _stat(f"/proc/{pid}/stat")
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            path = f"/proc/{pid}/task/{tid}/stat"
            try:
                if _is_jit_thread(path):
                    total -= sum(int(x) for x in _stat(path)[11:13])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
    return total * _TICK_S


# -- statistics ---------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


# -- Spark job attribution --------------------------------------------------------


class JobCounter:
    """Counts the Spark jobs and tasks an engine call ran, by job-id
    window rather than job group: engine thread pools and the streaming
    thread do not inherit the caller's job group, but job ids are
    assigned densely in submission order, so every job submitted between
    two marks belongs to the window."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._next = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store knows every job submitted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Id of the next job to be submitted."""
        self.drain()
        while self.tracker.getJobInfo(self._next) is not None:
            self._next += 1
        return self._next

    def window(self, lo: int, hi: int, group: Optional[str] = None,
               exclude_group: Optional[str] = None) -> dict:
        """Jobs with ids in [lo, hi), optionally only those of one job
        group or all but one."""
        ids = list(range(lo, hi))
        if group is not None:
            keep = set(self.tracker.getJobIdsForGroup(group))
            ids = [j for j in ids if j in keep]
        elif exclude_group is not None:
            skip = set(self.tracker.getJobIdsForGroup(exclude_group))
            ids = [j for j in ids if j not in skip]
        tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks  # skipped stages ran none
        return {"jobs": len(ids), "tasks": tasks}


# -- filesystem accounting ---------------------------------------------------------


def fs_inodes(*roots: str) -> dict:
    """{inode: size} of the regular files under ``roots``: a hard-linked
    file is one inode, so it is counted once."""
    out = {}
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for f in files:
                try:
                    st = os.lstat(os.path.join(d, f))
                except FileNotFoundError:
                    continue
                out[st.st_ino] = st.st_size
    return out


def fs_bytes(*roots: str) -> int:
    return sum(fs_inodes(*roots).values())


def fs_written(before: dict, after: dict) -> dict:
    new = [ino for ino in after if ino not in before]
    return {"files": len(new), "bytes": sum(after[i] for i in new)}


# -- tracing ------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) recorded from the benchmark's own
    code around each call into the engine, kept in memory and written
    out at the end. Every span counts the CPU time, Spark jobs and tasks
    it took (outside its timing: they are end-to-end metrics); only an
    enabled tracer keeps the spans."""

    def __init__(self, spark, enabled: bool = False):
        self.enabled = enabled
        self.jobs = JobCounter(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: time spent keeping spans, which untraced runs do not spend
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's record; on exit it holds ``s``, ``cpu_s``,
        ``jobs`` and ``tasks``. ``exclude_group`` leaves one job group's
        jobs out."""
        rec: dict = dict(attrs, name=name)
        lo = self.jobs.mark()
        if self.enabled:
            t = time.perf_counter()
            rec.update(id=len(self.spans), parent=self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self.overhead_s += time.perf_counter() - t
        cpu = tree_cpu_s()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()
            hi = self.jobs.mark()
            rec["cpu_s"] = tree_cpu_s() - cpu
            rec["job_lo"], rec["job_hi"] = lo, hi
            rec.update(self.jobs.window(lo, hi, exclude_group=rec.get("exclude_group")))

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by top-level spans."""
        iv = sorted(
            (max(s["start"], t0), min(s["end"], t1))
            for s in self.spans if s["parent"] is None and "end" in s
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return covered / (t1 - t0) if t1 > t0 else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")
