"""Attribute the Spark jobs of driver-contract entries, or of one
benchmark run, to the engine call sites that submitted them.

Usage (from any directory):
    python scripts/attribute_jobs.py <entry> [<entry> ...]
    python scripts/attribute_jobs.py --workload <feed_sync|store_cdf> --seed N

Entry mode runs each entry REPEATS times (cold, then warm) in one
``conf.local_session`` at $SPARK_GRAFT_SF_DIR (default sf0.1), each run
building the entry's frame and writing it to the ``noop`` sink, as
bench.py times it. Workload mode runs ``perfbench/run.py`` in this
process for BENCHMARK.json's ``run_seconds``, in perfbench's own
session; its output lines go to stderr.

Every classic DataFrame action (the Arrow collect ``_collect_as_arrow``
too, which the store's sliver DML commits call directly) and
DataFrameReader/DataFrameWriter call (a read without a schema runs a
job to infer one) is a window of job
ids, marked by ``perfbench.harness.JobCounter`` as it starts and
ends. A job is charged to the window whose thread submitted it (the
window names itself in the job's description, which the stage jobs of
adaptive execution inherit); a job submitted by no window's thread (a
streaming micro-batch) goes to the innermost window that holds its id,
and one outside every window to "(no window)". A window's call site is
the frame that called into PySpark.

Prints one JSON object. "entries": per entry (or workload), the jobs,
tasks and wall seconds of each run. "call_sites": per entry (or
workload) and call site, the jobs, tasks, shuffle-write bytes, wall
seconds and calls of all its runs; its jobs sum to the entry's. Tasks
are the status store's per-job task counts (stages a job reuses
excluded). Windows on different threads overlap, so call-site wall
seconds do not add up to the run's.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter  # noqa: E402

from perfbench.harness import JobCounter  # noqa: E402

REPEATS = 2
ACTIONS = (
    "collect", "count", "first", "head", "take", "tail", "isEmpty", "show",
    "toPandas", "toArrow", "toLocalIterator", "foreach", "foreachPartition",
    "checkpoint", "localCheckpoint", "_collect_as_arrow",
)
READS = ("load", "parquet", "json", "csv", "orc", "text", "table")
WRITES = ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto")
PYSPARK_DIR = os.path.dirname(pyspark.__file__)
DESCRIPTION = "spark.job.description"


def call_site(frame) -> str:
    while frame is not None and frame.f_code.co_filename.startswith(PYSPARK_DIR):
        frame = frame.f_back
    if frame is None:
        return "(pyspark)"
    path = os.path.relpath(os.path.abspath(frame.f_code.co_filename), ROOT)
    return f"{path}:{frame.f_lineno} ({frame.f_code.co_name})"


class Attribution:
    """Windows and scopes by job id, and every job's status-store record
    (read as windows close, before the store's retention drops it)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.counter = JobCounter(spark)
        self.store = spark._jsparkSession.sparkContext().statusStore()
        self.lock = threading.Lock()
        self.local = threading.local()
        self.tokens = itertools.count()
        self.windows: list[tuple] = []  # (lo, hi, token, site, seconds)
        self.scopes: list[tuple] = []  # (name, lo, hi, seconds)
        self.jobs: dict[int, tuple] = {}  # id -> (description, tasks, shuffle bytes)
        self.unread: set[int] = set()
        self.read_to = 0
        self.stages_seen: set[int] = set()

    def mark(self) -> int:
        with self.lock:
            hi = self.counter.mark()
            self.unread.update(range(self.read_to, hi))
            self.read_to = max(self.read_to, hi)
            for j in sorted(self.unread):
                data = self.store.job(j)
                if data.status().toString() == "RUNNING":
                    continue
                stages = data.stageIds()
                shuffle = 0
                for sid in (stages.apply(i) for i in range(stages.size())):
                    if sid not in self.stages_seen:  # a reused stage ran earlier
                        self.stages_seen.add(sid)
                        shuffle += self.store.lastStageAttempt(sid).shuffleWriteBytes()
                desc = data.description()
                self.jobs[j] = (desc.get() if desc.isDefined() else None,
                                data.numTasks(), shuffle)
                self.unread.discard(j)
            return hi

    def install(self) -> None:
        """Make every DataFrame action and reader/writer call a window."""
        for cls, names in ((DataFrame, ACTIONS), (DataFrameReader, READS),
                           (DataFrameWriter, WRITES)):
            for name in names:
                setattr(cls, name, self.windowed(getattr(cls, name)))

    def windowed(self, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if getattr(self.local, "busy", False):
                return fn(*args, **kwargs)  # PySpark calling its own actions
            with self.window(call_site(sys._getframe(1))):
                return fn(*args, **kwargs)

        return call

    @contextlib.contextmanager
    def window(self, site: str):
        token = f"attribute_jobs window {next(self.tokens)}"
        outer = self.sc.getLocalProperty(DESCRIPTION)
        self.local.busy = True
        self.sc.setLocalProperty(DESCRIPTION, token)
        lo, t0 = self.mark(), time.perf_counter()
        try:
            yield
        finally:
            seconds = time.perf_counter() - t0
            self.sc.setLocalProperty(DESCRIPTION, outer)
            self.local.busy = False
            self.windows.append((lo, self.mark(), token, site, seconds))

    @contextlib.contextmanager
    def scope(self, name: str):
        lo, t0 = self.mark(), time.perf_counter()
        try:
            yield
        finally:
            self.scopes.append((name, lo, self.mark(), time.perf_counter() - t0))

    def report(self) -> dict:
        by_token = {w[2]: w for w in self.windows}
        entries: dict[str, dict] = {}
        sites: dict[str, dict] = {}
        for name, lo, hi, seconds in self.scopes:
            e = entries.setdefault(name, {"jobs": [], "tasks": [], "wall_s": []})
            e["jobs"].append(hi - lo)
            e["tasks"].append(sum(self.jobs[j][1] for j in range(lo, hi)))
            e["wall_s"].append(round(seconds, 3))
            tally = sites.setdefault(name, collections.defaultdict(lambda: dict.fromkeys(
                ("jobs", "tasks", "shuffle_write_bytes", "wall_s", "calls"), 0)))
            in_scope = [w for w in self.windows if lo <= w[0] < hi]
            for w in in_scope:
                tally[w[3]]["wall_s"] += w[4]
                tally[w[3]]["calls"] += 1
            for j in range(lo, hi):
                desc, tasks, shuffle = self.jobs[j]
                w = by_token.get(desc) or min(
                    (w for w in in_scope if w[0] <= j < w[1]),
                    key=lambda w: w[1] - w[0], default=None,
                )
                site = tally["(no window)" if w is None else w[3]]
                site["jobs"] += 1
                site["tasks"] += tasks
                site["shuffle_write_bytes"] += shuffle
        return {"entries": entries, "call_sites": {
            name: {site: {**c, "wall_s": round(c["wall_s"], 3)}
                   for site, c in sorted(tally.items(), key=lambda kv: -kv[1]["jobs"])}
            for name, tally in sites.items()
        }}


def run_entries(names: list[str]) -> int:
    from far_finer_airtable_firestore_sync_spark.conf import local_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = local_session("ffs-attribute-jobs")
    import __spark_entry__ as e

    qs = e.queries()
    att = Attribution(spark)
    att.install()
    for name in names:
        for _ in range(REPEATS):
            with att.scope(name):
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
    print(json.dumps(att.report()))
    spark.stop()
    return 0


def run_workload(workload: str, seed: int) -> int:
    import perfbench.harness as harness
    from perfbench import run

    start_session, stop_session = harness.start_session, harness.stop_session
    scope = contextlib.ExitStack()
    att = None

    def start(*args):
        nonlocal att
        spark = start_session(*args)
        att = Attribution(spark)
        att.install()
        scope.enter_context(att.scope(workload))
        return spark

    def stop(spark):
        scope.close()  # job records are read before the session goes
        stop_session(spark)

    harness.start_session, harness.stop_session = start, stop
    argv = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(run.load_spec()["run_seconds"])]
    with contextlib.redirect_stdout(sys.stderr):
        rc = run.main(argv)
    print(json.dumps(att.report()))
    return rc


def main(argv: list[str]) -> int:
    if argv[:1] == ["--workload"] and len(argv) == 4 and argv[2] == "--seed":
        return run_workload(argv[1], int(argv[3]))
    if not argv or argv[0].startswith("-"):
        sys.exit(__doc__)
    return run_entries(argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
