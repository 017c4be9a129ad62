"""The one masked scan (``store._masked_scan``): a deletion-vector mask
up to ``_DV_FILTER_MAX_POSITIONS`` positions drops rows through an
in-plan filter, a larger one through the anti-join. Every case below
runs on both sides of the bound and must read the same rows."""

import ast
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.sources import store as store_mod
from far_finer_airtable_firestore_sync_spark.sources.store import (
    DocumentStore,
    _masked_scan,
    prune_files_by_zone,
    shallow_clone,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N = 2000


@pytest.fixture(params=["filter", "anti_join"])
def mask_path(request, monkeypatch):
    """Which side of the bound the scans below take: the default bound
    (these masks are far below it) or a bound of 0 (every mask is
    anti-joined)."""
    if request.param == "anti_join":
        monkeypatch.setattr(store_mod, "_DV_FILTER_MAX_POSITIONS", 0)
    return request.param


def _docs(spark):
    return spark.range(N).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )


def _store(spark, tmp_path):
    """An 8-file store of ``N`` rows, range-partitioned on its key."""
    s = DocumentStore(spark, str(tmp_path / f"s-{uuid.uuid4().hex[:6]}"), "k")
    s.commit(_docs(spark).repartitionByRange(8, "k"))
    return s


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _assert_path(df, mask_path):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert ("LeftAnti" in plan) == (mask_path == "anti_join"), plan


def test_masks_accumulated_over_dml_commits(spark, tmp_path, mask_path):
    s = _store(spark, tmp_path)
    s.delete_where("k % 7 = 0")
    s.update_where("k % 11 = 0", {"v": "v + 1"})
    s.delete_where("k % 13 = 0")
    want = sorted(
        (k, 3 * k + (k % 11 == 0))
        for k in range(N)
        if k % 7 and k % 13
    )
    vd = s.current_version_dir()
    df = s.read_version(vd)
    _assert_path(df, mask_path)
    assert _rows(df) == want
    assert _rows(s.read_where("k", 0, N)) == want
    assert _rows(s.read_where_eq("k", [14, 15, 22, 26])) == [(15, 45), (22, 67)]
    pos = _masked_scan(spark, vd, positions=True)
    assert pos.select(*store_mod._POS_COLS).distinct().count() == len(want)


def test_legacy_sidecar_inherited_through_legacy_dir(spark, tmp_path, mask_path):
    """An absolute-URI sidecar naming the predecessor is re-rooted by
    the next delete; the in-place legacy form resolves on read."""
    s = _store(spark, tmp_path)
    v1 = s.current_version_dir()
    rows = (
        spark.read.parquet(v1).filter("k % 7 = 0").select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_index"),
        ).collect()
    )
    assert rows and all(r["file_path"].startswith("file:") for r in rows)
    spark.createDataFrame(rows).write.parquet(os.path.join(v1, "_deletion_vectors"))
    assert _rows(s.read()) == [(k, 3 * k) for k in range(N) if k % 7]
    s.delete_where("k % 5 = 0")
    assert _rows(s.read()) == [(k, 3 * k) for k in range(N) if k % 7 and k % 5]
    assert _rows(s.read_where("k", 100, 199)) == [
        (k, 3 * k) for k in range(100, 200) if k % 7 and k % 5
    ]


def test_hive_partitioned_pruned_read(spark, tmp_path, mask_path):
    """A pruned scan of a partitioned version keeps its partition
    column (``basePath``) and its files' positions, whose paths Spark
    URL-encodes (the space in ``p=a b``)."""
    s = DocumentStore(spark, str(tmp_path / "hive"), "k")
    s.commit(
        _docs(spark).withColumn(
            "p", F.when(F.col("k") % 2 == 0, "a b").otherwise("c")
        ).repartition(4, "p"),
        partition_by=["p"],
    )
    s.delete_where("k % 7 = 0")
    vd = s.current_version_dir()
    keep, _total = prune_files_by_zone(vd, "k", 0, 99)
    assert keep
    df = _masked_scan(spark, vd, keep)
    _assert_path(df, mask_path)
    got = sorted(
        (r["k"], r["p"]) for r in df.filter("k < 100").collect()
    )
    assert got == [
        (k, "a b" if k % 2 == 0 else "c") for k in range(100) if k % 7
    ]
    assert s.get_document(14) is None
    assert s.get_document(16) == {"k": 16, "v": 48, "p": "a b"}


def test_shallow_clone(spark, tmp_path, mask_path):
    s = _store(spark, tmp_path)
    s.delete_where("k % 7 = 0")
    clone = shallow_clone(spark, s, str(tmp_path / "clone"))
    want = [(k, 3 * k) for k in range(N) if k % 7]
    assert _rows(clone.read()) == want
    assert _rows(clone.read_where("k", 0, N)) == want
    assert clone.get_document(21) is None


def test_interrupted_sidecar_swap_self_heals(spark, tmp_path, mask_path):
    """A kill between the swap's renames leaves no live sidecar; the
    next masked read restores one and is never served unmasked."""
    s = _store(spark, tmp_path)
    s.delete_where("k % 7 = 0")
    vd = s.current_version_dir()
    live = os.path.join(vd, "_deletion_vectors")
    shutil.copytree(live, live + ".tmp-aaaaaaaa")
    os.rename(live, live + ".old-bbbbbbbb")
    want = [(k, 3 * k) for k in range(N) if k % 7]
    assert _rows(s.read()) == want
    assert os.path.isdir(live)
    assert not [d for d in os.listdir(vd) if d.startswith("_deletion_vectors.")]
    os.rename(live, live + ".old-cccccccc")
    assert _rows(s.read_where("k", 0, N)) == want
    os.rename(live, live + ".old-dddddddd")
    assert s.get_document(7) is None


def test_kept_files_without_positions_add_no_filter(spark, tmp_path):
    """A pruned scan whose files carry no position is the bare scan."""
    s = _store(spark, tmp_path)
    s.delete_where("k < 10")
    vd = s.current_version_dir()
    keep, _total = prune_files_by_zone(vd, "k", N - 1, N - 1)
    assert len(keep) == 1
    bare = spark.read.option("basePath", vd).parquet(*keep)
    df = _masked_scan(spark, vd, keep)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "_ffs_pos" not in plan and "Filter" not in plan
    assert df.count() == bare.count()


def _jobs(spark, action):
    sc = spark.sparkContext
    group = f"reads-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count read jobs")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_masked_reads_run_no_mask_job(spark, tmp_path):
    """On an 8-file store carrying a DV: a point read is one job, a
    range read's collect one, a snapshot count two (scan + final
    aggregate) — the mask adds none."""
    s = _store(spark, tmp_path)
    s.delete_where("k % 7 = 0")
    vd = s.current_version_dir()
    assert _jobs(spark, lambda: s.get_document(15)) == ({"k": 15, "v": 45}, 1)
    assert _jobs(spark, lambda: s.get_document(14)) == (None, 1)
    rows, jobs = _jobs(spark, lambda: s.read_where("k", 500, 999).collect())
    assert (len(rows), jobs) == (len([k for k in range(500, 1000) if k % 7]), 1)
    n, jobs = _jobs(spark, lambda: s.read_version(vd).count())
    assert (n, jobs) == (N - len(range(0, N, 7)), 2)


def test_point_read_masks_on_the_driver_above_the_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(store_mod, "_DV_FILTER_MAX_POSITIONS", 0)
    s = _store(spark, tmp_path)
    s.delete_where("k % 7 = 0")
    assert _jobs(spark, lambda: s.get_document(14)) == (None, 1)
    assert _jobs(spark, lambda: s.get_document(15)) == ({"k": 15, "v": 45}, 1)


def test_point_read_keys_the_zone_manifest_cannot_order(spark, tmp_path):
    """A timestamp key (zones hold ISO strings) and a decimal column
    (stats with no JSON form) still prune safely: unorderable zones
    keep their file, decimal columns get no zone."""
    import datetime as dt
    from decimal import Decimal

    s = DocumentStore(spark, str(tmp_path / "typed"), "ts")
    s.commit(spark.range(40).selectExpr(
        "timestamp_seconds(id * 3600) as ts", "cast(id / 4 as decimal(10,2)) as amt",
    ).repartition(4))
    s.delete_where("hour(ts) = 5")
    at = dt.datetime(1970, 1, 1, 6)
    assert s.get_document(at) == {"ts": at, "amt": Decimal("1.50")}
    assert s.get_document(dt.datetime(1970, 1, 1, 5)) is None


def _dv_anti_join_builders():
    """(module, function) of every function under the package that
    joins ``left_anti`` and names a deletion-vector identifier."""
    pkg = os.path.join(ROOT, "far_finer_airtable_firestore_sync_spark")
    found = []
    for d, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                names = {
                    n.id if isinstance(n, ast.Name) else n.attr
                    for n in ast.walk(fn)
                    if isinstance(n, (ast.Name, ast.Attribute))
                }
                strings = {
                    n.value for n in ast.walk(fn)
                    if isinstance(n, ast.Constant) and isinstance(n.value, str)
                }
                dv = any("dv" in x.lower() for x in names | strings)
                if "left_anti" in strings and dv:
                    found.append((os.path.relpath(path, pkg), fn.name))
    return found


def test_one_dv_anti_join():
    """Exactly one function builds the deletion-vector anti-join."""
    assert _dv_anti_join_builders() == [("sources/store.py", "_masked_scan")]
