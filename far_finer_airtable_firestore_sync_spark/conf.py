"""Cluster-sizing heuristics: turn (data size, cluster shape, workload)
into the Spark conf this engine is designed to run under.

Codifies SCALE.md's sizing rules as one reviewable function instead of
tribal knowledge. Targets, with sources in public Spark tuning
guidance:

- shuffle partitions sized so a post-shuffle partition lands near
  ``TARGET_SHUFFLE_PARTITION_BYTES`` (128 MiB) — small enough to fit
  executor memory with room for hash tables, big enough to amortize
  task overhead; never below total cores (idle executors) and never
  above ``MAX_SHUFFLE_PARTITIONS`` (driver/scheduler pressure). AQE
  coalescing trims the excess at runtime, so erring high is safe.
- scan partitions via ``files.maxPartitionBytes``: default 128 MiB;
  media/binary corpora drop to 32 MiB so an Arrow batch of payloads
  fits comfortably while decoding (operators/multimodal.py contract).
- AQE on, with skew-join splitting — the engine's skew story
  (operators/skew.py salting) is for KNOWN hot keys; AQE catches the
  unknown ones.
- broadcast threshold raised to 64 MiB: the engine leans hard on
  broadcast dims (strategies, IVF probes, bucket weights), and modern
  executor memory makes the 10 MiB default needlessly conservative.
- streaming state partitions come from key arrival rate, NOT batch
  shuffle width (streaming/sync.py:run_stream_to_memory rationale);
  exposed here so jobs size both from one place.

:func:`local_session` is the one local session the bench, the tests
and the scripts run the engine under.
"""

from __future__ import annotations

import os

TARGET_SHUFFLE_PARTITION_BYTES = 128 * 1024 * 1024
MEDIA_MAX_PARTITION_BYTES = 32 * 1024 * 1024
MAX_SHUFFLE_PARTITIONS = 20_000
BROADCAST_THRESHOLD_BYTES = 64 * 1024 * 1024


def recommended_conf(
    corpus_bytes: int,
    executors: int,
    cores_per_executor: int = 4,
    workload: str = "batch",
) -> dict[str, str]:
    """Spark conf dict for this engine at a given scale.

    ``corpus_bytes``: size of the largest table the job shuffles (not
    the whole lake). ``workload``: "batch" | "media" | "streaming".
    """
    if corpus_bytes <= 0:
        raise ValueError("corpus_bytes must be positive")
    if workload not in ("batch", "media", "streaming"):
        raise ValueError(f"unknown workload: {workload}")
    total_cores = max(1, executors * cores_per_executor)
    by_size = -(-corpus_bytes // TARGET_SHUFFLE_PARTITION_BYTES)  # ceil
    shuffle = min(MAX_SHUFFLE_PARTITIONS, max(total_cores, by_size))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(
            BROADCAST_THRESHOLD_BYTES
        ),
        "spark.sql.files.maxPartitionBytes": str(
            MEDIA_MAX_PARTITION_BYTES
            if workload == "media"
            else TARGET_SHUFFLE_PARTITION_BYTES
        ),
        "spark.sql.session.timeZone": "UTC",
    }
    if workload == "streaming":
        # state stores are per-partition per-operator: size to key
        # cardinality pressure, not batch width (a too-wide stream
        # pays store setup + checkpoint I/O on every micro-batch)
        conf["spark.sql.shuffle.partitions"] = str(
            min(shuffle, max(total_cores, 64))
        )
    return conf


def apply_conf(spark, conf: dict[str, str]) -> None:
    """Apply a conf dict to a live session (runtime-settable keys)."""
    for k, v in conf.items():
        spark.conf.set(k, v)


#: the checkout this package is imported from
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    """CPUs this process may run on (cpuset-aware, unlike os.cpu_count)."""
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def local_conf(cores: int | None = None, **extra_conf: str) -> dict[str, str]:
    """The conf :func:`local_session` starts Spark with.

    ``local[cores]`` with as many shuffle partitions; ``cores`` defaults
    to $SPARK_GRAFT_CPUS, else the host's CPUs. The driver gets
    $SPARK_GRAFT_MEM, else a quarter of host memory capped at 4g (the
    host may be shared). Only confs that differ from Spark's defaults
    are set, and ``extra_conf`` wins over all of them.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    mem_mb = max(1024, min(4096, host_mem_bytes() // 4 // (1024 * 1024)))
    return {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_MEM") or f"{mem_mb}m",
        "spark.sql.shuffle.partitions": str(cores),
        # AQE re-plans the output partitioning of cached plans: the
        # engine persists sliver-sized multi-consumer frames on every
        # DML/merge/IVM path, and a cache pinned at the static shuffle
        # width makes each consumer pay that task fan-out
        # (OPTIMIZATION_r12.md)
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **extra_conf,
    }


def local_session(app: str, cores: int | None = None, **extra_conf: str):
    """A local SparkSession sized by :func:`local_conf`. Python workers
    are started by the JVM and import the engine (the record-feed and
    change-feed sources run there), so this checkout goes on their
    PYTHONPATH."""
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    builder = SparkSession.builder.appName(app)
    for k, v in local_conf(cores, **extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
