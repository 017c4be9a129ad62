"""Self-tests of the benchmark (not of the engine):

    python3 -m pytest perfbench -q

Generator determinism and the metric catalogue run in a second; the
job-attribution test starts one Spark session; the smokes run every
workload end to end at the tiny scale with its output checks on
(under a minute each)."""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.harness import RunDir, Tracer, start_session, stop_session, tree_cpu_s
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _ds, fs in os.walk(d) for f in fs
    )


def _same_tree(a: str, b: str) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa
    )


def _feed(seed: int, out: str) -> None:
    g = gen.FeedGen(seed, 800)
    for _ in range(3):
        g.next_snapshot(out)


def _store(seed: int, out: str) -> None:
    m = gen.StoreModel(seed, 2_000)
    m.write_base(out)
    m.merge_source(os.path.join(out, "merge.parquet"))


@pytest.mark.parametrize("make", [_feed, _store], ids=["feed", "store"])
def test_same_seed_same_bytes_other_seed_differs(make, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        os.makedirs(d)
        make(seed, d)
    assert _files(a), "generator wrote nothing"
    assert _same_tree(a, b)
    assert _files(a) == _files(c) and not _same_tree(a, c)


def test_feed_snapshots_follow_their_closed_form(tmp_path):
    g = gen.FeedGen(1, 1000)
    s0 = g.next_snapshot(str(tmp_path))
    s1 = g.next_snapshot(str(tmp_path))
    assert (s0.n_keys, s0.inserted) == (1000, 1000)
    assert (s1.inserted, s1.deleted, s1.rewritten) == (10, 10, 10)
    assert s1.n_records == 1000 + 20  # 2% stale duplicates
    names = set()
    for p in os.listdir(s1.pages_dir):
        with open(os.path.join(s1.pages_dir, p)) as fh:
            names.update(json.loads(line)["fields"]["Name"] for line in fh)
    assert names == {f"k{i:09d}" for i in range(10, 1010)}


def test_metric_catalogue():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    for k in ("end_to_end", "per_layer"):
        for m in spec[k]:
            assert NAME.match(m["name"]), m
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("higher", "lower"), m
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_tree_cpu_counts_live_child_processes():
    """The JVM and its Python workers are live children when an op ends:
    their CPU time must count before they exit."""
    burn = ("import sys, time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\n"
            "print('burnt', flush=True)\ntime.sleep(30)\n")
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "burnt"
        assert tree_cpu_s() - before >= 0.45
    finally:
        child.kill()
        child.wait()


def test_job_window_counts_jobs_outside_the_callers_group():
    """merge_into(cdf=True) overlaps its writes on engine threads, which
    do not inherit the caller's job group: a group-based count misses
    them, the job-id window does not."""
    import tempfile

    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    env, tmpdir = dict(os.environ), tempfile.tempdir
    run_dir = RunDir(ROOT, f"selftest-{os.getpid()}")
    s = start_session(run_dir, ROOT)
    try:
        store = DocumentStore(s, run_dir.sub("jobs_store"), "k")
        store.commit(s.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v")))
        src = s.range(900, 1100).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v"))
        tr = Tracer(s, enabled=True)
        s.sparkContext.setJobGroup("perfbench-caller", "merge under a job group")
        with tr.span("merge") as rec:
            _out, counts = store.merge_into(src, when_matched_update={"v": "s.v"}, cdf=True)
        s.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        in_group = tr.jobs.window(rec["job_lo"], rec["job_hi"], group="perfbench-caller")
    finally:
        stop_session(s)
        run_dir.remove()
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = tmpdir
    assert counts["updated"] == 100 and counts["inserted"] == 100
    assert rec["jobs"] > in_group["jobs"] > 0
    assert rec["tasks"] > in_group["tasks"]


def _run(workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_smoke(workload):
    rc, lines = _run(workload, trace=0)
    assert rc == 0, lines[-3:]
    out = json.loads(lines[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    spec = _spec()
    assert list(out["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload, layer", [("feed_sync", "pipeline.jobs"),
                                             ("store_cdf", "streaming.epoch_jobs")])
def test_tiny_traced_smoke_covers_the_run(workload, layer):
    rc, lines = _run(workload, trace=1)
    assert rc == 0, lines[-3:]
    out = json.loads(lines[-1])
    assert list(out["metrics"]) == [m["name"] for m in _spec()["per_layer"]]
    assert out["metrics"]["trace.coverage"]["value"] >= 0.9
    assert out["metrics"][layer]["value"] > 0
