"""Count Spark jobs/tasks an entry runs — the load-independent A/B
metric for optimization rounds (this host's wall-clock swings 3x run
to run; job and task counts are deterministic for the same code).

Usage: python scripts/count_jobs.py <entry> [<entry> ...]   (from any directory)
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
CPUs this process may run on), SPARK_GRAFT_MEM (default: a quarter of
host memory, capped at 4g).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers (the record_feed and change-feed sources run there) are
# started by the JVM and must import the engine from this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from perfbench.harness import driver_memory_mb, host_cpus  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus()))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ffs-count-jobs")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_GRAFT_CACHE_AQE_PARTITIONING", "true"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # jobsList() is bounded by retainedJobs (default 1000): an
        # entry past retention would silently under-count and skew
        # the A/B evidence (r11 ADVICE) — raise far above any entry
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_MEM", f"{driver_memory_mb()}m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    store = spark._jsparkSession.sparkContext().statusStore()

    def totals() -> tuple[int, int]:
        jobs = store.jobsList(None)
        n_tasks = 0
        for i in range(jobs.size()):
            n_tasks += jobs.apply(i).numTasks()
        return jobs.size(), n_tasks

    qs = e.queries()
    out = {}
    for name in names:
        j0, t0 = totals()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        j1, t1 = totals()
        out[name] = {"jobs": j1 - j0, "tasks": t1 - t0}
        print(f"JOBS {name}: jobs={j1 - j0} tasks={t1 - t0}", flush=True)
    print("JSON " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
