"""The one local session factory (``conf.local_session``): host sizing,
its env overrides, and that nothing else in the repo builds a session."""

import os
import re

from far_finer_airtable_firestore_sync_spark import conf

GIB = 1024**3
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host(monkeypatch, cpus, mem_bytes):
    monkeypatch.setattr(conf, "host_cpus", lambda: cpus)
    monkeypatch.setattr(conf, "host_mem_bytes", lambda: mem_bytes)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MEM", raising=False)


def test_sized_from_the_host(monkeypatch):
    _host(monkeypatch, 6, 8 * GIB)
    c = conf.local_conf()
    assert c["spark.master"] == "local[6]"
    assert c["spark.sql.shuffle.partitions"] == "6"
    assert c["spark.driver.memory"] == "2048m"  # a quarter of the host
    _host(monkeypatch, 6, 64 * GIB)
    assert conf.local_conf()["spark.driver.memory"] == "4096m"  # capped
    _host(monkeypatch, 6, 2 * GIB)
    assert conf.local_conf()["spark.driver.memory"] == "1024m"  # floor


def test_env_and_arguments_override_the_host(monkeypatch):
    _host(monkeypatch, 6, 8 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_MEM", "6g")
    c = conf.local_conf()
    assert c["spark.master"] == "local[3]"
    assert c["spark.sql.shuffle.partitions"] == "3"
    assert c["spark.driver.memory"] == "6g"
    assert conf.local_conf(cores=2)["spark.master"] == "local[2]"


def test_extra_conf_wins(monkeypatch):
    _host(monkeypatch, 6, 8 * GIB)
    c = conf.local_conf(**{
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "9",
    })
    assert c["spark.sql.adaptive.enabled"] == "false"
    assert c["spark.sql.shuffle.partitions"] == "9"
    assert c["spark.master"] == "local[6]"


def test_confs_at_spark_defaults_are_not_set(monkeypatch):
    _host(monkeypatch, 6, 8 * GIB)
    c = conf.local_conf()
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    ):
        assert key not in c


def test_the_test_session_runs_the_bench_conf(spark):
    get = spark.conf.get
    assert get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
    assert get("spark.sql.shuffle.partitions") == "4"
    assert get("spark.sql.session.timeZone") == "UTC"
    assert get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.sparkContext.master == "local[4]"
    assert conf.ROOT in os.environ["PYTHONPATH"].split(os.pathsep)


def test_no_other_session_builder():
    """Every session is ``conf.local_session``, except perfbench's: the
    benchmark runs without the engine, so it keeps its own."""
    allowed = {
        os.path.join(ROOT, "far_finer_airtable_firestore_sync_spark", "conf.py"),
    }
    builders = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "perfbench"]
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path in allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                if re.search(r"SparkSession\s*\.\s*builder", fh.read()):
                    builders.append(os.path.relpath(path, ROOT))
    assert builders == []
