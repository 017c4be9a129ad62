"""Profile a single queries() entry under the bench session config.

Usage: python scripts/profile_entry.py <entry> [sf_dir] [--cprofile]

Times the entry end-to-end (plan build + noop write, the bench's
methodology) and, with --cprofile, prints the top driver-side call
sites by cumulative time — every Spark action blocks the driver, so
cumulative py4j time attributes cost to the entry code that caused it.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") \
        else "/root/testdata/sf0.1"
    use_cprofile = "--cprofile" in sys.argv
    repeats = int(os.environ.get("PROFILE_REPEATS", "2"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ffs-profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_GRAFT_CACHE_AQE_PARTITIONING", "true"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "32g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    spark.range(1_000_000).selectExpr("md5(cast(id as string)) h").agg(
        {"h": "max"}
    ).collect()

    fn = e.queries()[name]

    def run_once() -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    times = []
    for i in range(repeats):
        if use_cprofile and i == repeats - 1:
            pr = cProfile.Profile()
            pr.enable()
            dt = run_once()
            pr.disable()
            s = io.StringIO()
            st = pstats.Stats(pr, stream=s).sort_stats("cumulative")
            st.print_stats(45)
            print(s.getvalue())
        else:
            dt = run_once()
        times.append(round(dt, 2))
        print(f"run {i}: {dt:.2f}s", flush=True)
    print(f"RESULT {name}: {times}")
    spark.stop()


if __name__ == "__main__":
    main()
