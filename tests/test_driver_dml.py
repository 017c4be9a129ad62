"""Sliver DML commits write on the driver: a DML commit whose rows fit
under ``store._DML_DRIVER_MAX_ROWS`` collects them once
(``store._collect_sliver``) and writes the mask, the images and the
change feed with pyarrow (``store._write_sliver``); a larger one, or one
over a hive-partitioned base, keeps the Spark writers. Both paths must
commit the same thing: the cases below run on both (the ``dml_path``
fixture sets the bound to 0 for the Spark path), and the DML classes of
``test_round12_ops`` and the DML case of ``test_masked_scan``, which
take the driver path on their own, re-run here with the bound at 0."""

import datetime
import decimal
import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import test_masked_scan as masked_scan_tests
import test_round12_ops as r12
from far_finer_airtable_firestore_sync_spark.sources import store as store_mod
from far_finer_airtable_firestore_sync_spark.sources.backends import (
    TransactionalParquetBackend,
)
from far_finer_airtable_firestore_sync_spark.sources.store import (
    DocumentStore,
    _dv_positions,
    _footer_schema,
    _masked_scan,
    _version_reader,
    diff_frames,
)
from test_round12_ops import tmp_root  # noqa: F401  (fixture of the re-runs)

N = 400


@pytest.fixture()
def spark_path(monkeypatch):
    """The Spark writers for every commit of the test."""
    monkeypatch.setattr(store_mod, "_DML_DRIVER_MAX_ROWS", 0)


@pytest.fixture(params=["driver", "spark"])
def dml_path(request, monkeypatch):
    """Which path the test's commits take; yields the list of driver
    writes they made, so a test can check the path it took."""
    if request.param == "spark":
        monkeypatch.setattr(store_mod, "_DML_DRIVER_MAX_ROWS", 0)
    calls = []
    write = store_mod._write_sliver

    def spy(*args, **kwargs):
        calls.append(args[2])
        return write(*args, **kwargs)

    monkeypatch.setattr(store_mod, "_write_sliver", spy)
    return request.param, calls


@pytest.fixture()
def no_driver_write(monkeypatch):
    def refuse(*_a, **_k):
        raise AssertionError("the driver path wrote this commit")

    monkeypatch.setattr(store_mod, "_write_sliver", refuse)


@pytest.mark.usefixtures("spark_path")
class TestApplyChangesSparkPath(r12.TestApplyChanges):
    """``TestApplyChanges`` with the Spark writers."""


@pytest.mark.usefixtures("spark_path")
class TestOverlappedDmlWritesSparkPath(r12.TestOverlappedDmlWrites):
    """``TestOverlappedDmlWrites`` with the Spark writers."""


@pytest.mark.usefixtures("spark_path")
class TestRightOuterMergeJoinSparkPath(r12.TestRightOuterMergeJoin):
    """``TestRightOuterMergeJoin`` with the Spark writers."""


def test_masks_accumulated_over_dml_commits_spark_path(
    spark, tmp_path, spark_path
):
    masked_scan_tests.test_masks_accumulated_over_dml_commits(
        spark, tmp_path, "filter"
    )


def _docs(spark, n=N):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 3).alias("v"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("tag"),
    )


def _store(spark, root, n=N):
    s = DocumentStore(spark, str(root), "k")
    s.commit(_docs(spark, n).repartitionByRange(4, "k"))
    return s


def _rows(df):
    return sorted(
        (r["k"], r["grp"], r["v"], r["tag"]) for r in df.collect()
    )


def _changes(spark, vd):
    ch = os.path.join(vd, "_changes")
    return _version_reader(spark, ch).parquet(ch)


def _kinds(spark, vd):
    got = {}
    for r in _changes(spark, vd).collect():
        got[r["change_type"]] = got.get(r["change_type"], 0) + 1
    return got


def test_dml_sequence(spark, tmp_path, dml_path):
    """Delete, update, a four-clause merge and a delete without change
    feed, each checked against a model of the rows and its change
    feed; no-op DML publishes nothing."""
    path, calls = dml_path
    s = _store(spark, tmp_path / "s")
    model = {k: (k % 4, 3 * k, f"t{k % 3}") for k in range(N)}

    vd, n_total = s.delete_where("k % 7 = 0", cdf=True)
    dead = [k for k in model if k % 7 == 0]
    for k in dead:
        del model[k]
    assert n_total == len(dead)
    assert _kinds(spark, vd) == {"delete": len(dead)}

    vd, n = s.update_where("k % 5 = 1", {"v": "v + 1000"}, cdf=True)
    moved = [k for k in model if k % 5 == 1]
    for k in moved:
        g, v, t = model[k]
        model[k] = (g, v + 1000, t)
    assert n == len(moved)
    assert _kinds(spark, vd) == {"update": len(moved)}
    assert _rows(s.read()) == sorted((k, *r) for k, r in model.items())

    src = spark.range(380, 420).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("grp"),
        (-F.col("id")).alias("v"),
        F.lit("m").alias("tag"),
    )
    vd, counts = s.merge_into(
        src,
        when_matched_update={"v": "s.v", "tag": "s.tag"},
        when_matched_delete="s.k % 10 = 0",
        when_not_matched_by_source_delete="k < 10",
        cdf=True,
    )
    matched = [k for k in range(380, 420) if k in model]
    want = {
        "deleted": len([k for k in matched if k % 10 == 0]),
        "updated": len([k for k in matched if k % 10]),
        "inserted": len([k for k in range(380, 420) if k not in model]),
        "deleted_by_source": len([k for k in model if k < 10]),
    }
    assert counts == want
    for k in range(380, 420):
        if k in model and k % 10 == 0:
            del model[k]
        else:
            model[k] = (k % 4, -k, "m")
    for k in [k for k in model if k < 10]:
        del model[k]
    assert _kinds(spark, vd) == {
        "update": want["updated"], "insert": want["inserted"],
        "delete": want["deleted"] + want["deleted_by_source"],
    }

    vd, n_total = s.delete_where("k % 11 = 0")
    gone = [k for k in model if k % 11 == 0]
    for k in gone:
        del model[k]
    assert not os.path.exists(os.path.join(vd, "_changes"))
    assert n_total == len(_dv_positions(vd))
    assert _rows(s.read()) == sorted((k, *r) for k, r in model.items())

    versions = s.list_versions()
    assert s.update_where("k < 0", {"v": "v + 1"}, cdf=True) == (vd, 0)
    assert s.delete_where("k < 0", cdf=True) == (vd, n_total)
    assert s.list_versions() == versions
    assert len(calls) == (4 if path == "driver" else 0)


def test_txn_log_dml(spark, tmp_path, dml_path):
    """The CAS log builds its DML candidates with the same builders."""
    b = TransactionalParquetBackend(spark, str(tmp_path), "k", writer_id="A")
    b.commit(_docs(spark, 100))
    b.delete_where("k % 3 = 0", cdf=True)
    b.update_where("k % 3 = 1", {"tag": "'u'"}, cdf=True)
    b.merge_into(
        _docs(spark, 120).filter("k >= 90").withColumn("v", F.lit(-1).cast("long")),
        when_matched_update={"v": "s.v"}, cdf=True,
    )
    want = sorted(
        (k, k % 4, -1 if k >= 90 else 3 * k,
         "u" if k % 3 == 1 and k < 100 else f"t{k % 3}")
        for k in range(120) if k >= 90 or k % 3
    )
    assert _rows(b.read()) == want


def test_rejected_commits_publish_nothing(spark, tmp_path, dml_path):
    """A stale change set, one without positions and a merge whose
    source repeats a key are refused before a candidate exists."""
    s = _store(spark, tmp_path / "s")
    cur = s.current_version_dir()
    old = _masked_scan(spark, cur, positions=True)
    stale = diff_frames(
        old, old.filter("k >= 10"), "k", include_old=True
    ).localCheckpoint()
    s.delete_where("k < 5")
    versions = s.list_versions()
    with pytest.raises(ValueError, match="not computed against"):
        s.apply_changes(stale)
    unpositioned = diff_frames(
        s.read(), s.read().filter("k >= 20"), "k", include_old=True
    )
    with pytest.raises(ValueError, match="position columns"):
        s.apply_changes(unpositioned)
    twice = _docs(spark, 20).unionByName(_docs(spark, 20).filter("k = 7"))
    for gated in (None, "s.v > 0"):
        with pytest.raises(ValueError, match="duplicate keys"):
            s.merge_into(
                twice, when_matched_update={"v": "s.v"},
                update_condition=gated,
            )
    assert s.list_versions() == versions
    assert sorted(os.listdir(s.root)) == sorted(
        [os.path.basename(v) for v in versions] + ["_LATEST", "_LATEST.lock"]
    )


def test_update_where_runs_one_job_on_the_driver(spark, tmp_path, dml_path):
    """A cdf update's commit is the collect alone on the driver path;
    the Spark path writes the mask, then the images and the feed."""
    path, _calls = dml_path
    s = _store(spark, tmp_path / "s")
    jobs = r12._job_window(
        spark, lambda: s.update_where("k % 9 = 0", {"v": "v + 1"}, cdf=True)
    )
    assert len(jobs) == (1 if path == "driver" else 3), jobs


_TYPED = """
select cast(id as bigint) as k,
  timestamp'2021-03-04 05:06:07.123456' + make_interval(0, 0, 0, id) as ts,
  timestamp_ntz'2021-03-04 05:06:07' + make_interval(0, 0, 0, id) as tsn,
  date_add(date'1000-03-04', cast(id as int)) as d,
  cast(id * 1.25 as decimal(10,2)) as d10,
  cast(id * 12345.123456 as decimal(38,6)) as d38,
  array(cast(id as int), null) as arr,
  named_struct('a', cast(id as int), 'b', concat('b', id)) as st,
  map('m', id) as m,
  cast(concat('x', id) as binary) as bin,
  if(id % 2 = 0, null, concat('n', id)) as ns
from range({lo}, {hi})
"""


def _typed(spark, lo, hi):
    return spark.sql(_TYPED.format(lo=lo, hi=hi))


def _merge_typed(s, spark):
    """One merge over a typed store: updates that write NULLs, matched
    deletes and inserts of all-NULL payloads."""
    src = _typed(spark, 20, 50).select(
        "k",
        *[
            F.when(F.col("k") % 3 == 0, F.lit(None).cast(t)).otherwise(F.col(c)).alias(c)
            for c, t in _typed(spark, 0, 0).dtypes if c != "k"
        ],
    )
    return s.merge_into(
        src,
        when_matched_update={c: f"s.{c}" for c in src.columns if c != "k"},
        when_matched_delete="s.k % 5 = 0",
        cdf=True,
    )


def _sorted_rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda r: r["k"])


def _file_schemas(vd):
    """The Spark row schema in each data file's footer."""
    return {
        f: json.loads(pq.read_metadata(os.path.join(vd, f)).metadata[
            store_mod._SPARK_SCHEMA_KEY
        ])
        for f in os.listdir(vd) if f.endswith(".parquet")
    }


def test_type_fidelity(spark, tmp_path, monkeypatch):
    """One merge committed through each path into two copies of one
    store reads back equal rows, DV positions, change feed and footer
    Spark schemas over every column type a store holds — timestamps
    with and without zone, a date before 1582-10-15, decimals, arrays,
    structs, maps, binary and NULLs — and neither version's reads infer
    a schema."""
    a = DocumentStore(spark, str(tmp_path / "a"), "k")
    a.commit(_typed(spark, 0, 40).repartition(2))
    shutil.copytree(a.root, tmp_path / "b")
    b = DocumentStore(spark, str(tmp_path / "b"), "k")

    calls = []
    write = store_mod._write_sliver
    monkeypatch.setattr(
        store_mod, "_write_sliver",
        lambda *args: calls.append(args[2]) or write(*args),
    )
    va, counts_a = _merge_typed(a, spark)
    monkeypatch.setattr(store_mod, "_DML_DRIVER_MAX_ROWS", 0)
    vb, counts_b = _merge_typed(b, spark)
    assert calls == [va] and counts_a == counts_b
    assert counts_a == {
        "updated": 16, "deleted": 4, "inserted": 10, "deleted_by_source": 0,
    }

    assert _sorted_rows(a.read()) == _sorted_rows(b.read())
    row = {r["k"]: r for r in _sorted_rows(a.read())}[22]
    assert row["d"] == datetime.date(1000, 3, 26)
    assert row["d38"] == decimal.Decimal("271592.716032")
    assert set(zip(*_dv_positions(va).to_pydict().values())) == \
        set(zip(*_dv_positions(vb).to_pydict().values()))
    assert _sorted_rows(_changes(spark, va)) == _sorted_rows(_changes(spark, vb))
    assert _footer_schema(os.path.join(va, "_changes")) == \
        _footer_schema(os.path.join(vb, "_changes"))
    linked = set(os.listdir(a.list_versions()[0]))
    appended = [
        {f: x for f, x in _file_schemas(vd).items() if f not in linked}
        for vd in (va, vb)
    ]
    assert [len(x) for x in appended] == [1, 1]
    assert list(appended[0].values()) == list(appended[1].values())
    # every data file, the driver-written one too, carries the types
    # the version reads with (file reads make every column nullable),
    # so whichever file is listed first, no read infers
    shapes = {
        T.StructType.fromJson(x).simpleString()
        for vd in (va, vb) for x in _file_schemas(vd).values()
    }
    assert len(shapes) == 1
    for vd in (va, vb):
        ch = os.path.join(vd, "_changes")
        assert r12._job_ids(spark, lambda: a.read_version(vd)) == []
        assert r12._job_ids(spark, lambda: _version_reader(spark, ch).parquet(ch)) == []


def _tree_digest(vd):
    """Per directory of ``vd``, the sorted digests of its parquet
    files (names carry a per-write uuid; bytes must not)."""
    got = {}
    for root, _dirs, files in os.walk(vd):
        rel = os.path.relpath(root, vd)
        got[rel] = sorted(
            hashlib.sha256(open(os.path.join(root, f), "rb").read()).hexdigest()
            for f in files if f.endswith(".parquet")
        )
    return got


def test_same_change_set_writes_the_same_bytes(spark, tmp_path):
    """The same change set applied to two identical stores writes
    byte-identical mask, image and change-feed files."""
    a = _store(spark, tmp_path / "a")
    a.delete_where("k % 7 = 0")
    shutil.copytree(a.root, tmp_path / "b")
    b = DocumentStore(spark, str(tmp_path / "b"), "k")
    out = []
    for s in (a, b):
        cur = s.current_version_dir()
        target = s.read().filter("k % 6 <> 1").withColumn(
            "v", F.expr("if(k % 5 = 0, v + 1, v)")
        ).unionByName(_docs(spark, N + 30).filter(f"k >= {N}"))
        changes = diff_frames(
            _masked_scan(spark, cur, positions=True), target, "k",
            include_old=True,
        ).repartition(3)
        out.append(s.apply_changes(changes, expected_version=cur, cdf=True)[0])
    da, db = _tree_digest(out[0]), _tree_digest(out[1])
    assert da == db
    assert da["_changes"] and da["_deletion_vectors"]


def test_above_the_bound_keeps_the_spark_writers(
    spark, tmp_path, monkeypatch, no_driver_write
):
    """Past the bound a merge (counts known: no collect), an update
    and an applied change set (collect cut at the bound) write with
    Spark and commit the same rows."""
    monkeypatch.setattr(store_mod, "_DML_DRIVER_MAX_ROWS", 10)
    s = _store(spark, tmp_path / "s")
    model = {k: (k % 4, 3 * k, f"t{k % 3}") for k in range(N)}
    vd, n = s.update_where("k % 8 = 0", {"tag": "'x'"}, cdf=True)
    assert n == 50 and os.path.exists(os.path.join(vd, "_changes", "_SUCCESS"))
    for k in range(0, N, 8):
        model[k] = (k % 4, 3 * k, "x")
    src = _docs(spark, N + 20).filter(f"k >= {N - 20}").withColumn("tag", F.lit("m"))
    _vd, counts = s.merge_into(src, when_matched_update={"tag": "s.tag"})
    assert counts["updated"] == 20 and counts["inserted"] == 20
    for k in range(N - 20, N + 20):
        model[k] = (k % 4, 3 * k, "m")
    cur = s.current_version_dir()
    changes = diff_frames(
        _masked_scan(spark, cur, positions=True),
        s.read().filter("k >= 30"), "k", include_old=True,
    )
    _vd, counts = s.apply_changes(changes, expected_version=cur)
    assert counts["deleted"] == 30
    model = {k: r for k, r in model.items() if k >= 30}
    assert _rows(s.read()) == sorted((k, *r) for k, r in model.items())


def test_hive_partitioned_base_keeps_the_spark_writers(
    spark, tmp_path, no_driver_write
):
    """Over a hive-partitioned base the images land in partition
    directories (a moved row in its new one) that ``read()``
    discovers."""
    s = DocumentStore(spark, str(tmp_path / "s"), "k")
    s.commit(_docs(spark, 40), partition_by=["grp"])
    vd, n = s.update_where("k < 4", {"grp": "grp + 10"}, cdf=True)
    assert n == 4
    assert {"grp=10", "grp=11", "grp=12", "grp=13"} <= set(os.listdir(vd))
    _vd, counts = s.merge_into(
        _docs(spark, 44).filter("k >= 40").withColumn("grp", F.lit(7).cast("long")),
        when_matched_update={"v": "s.v"},
    )
    assert counts["inserted"] == 4
    want = sorted(
        [(k, k % 4 + (10 if k < 4 else 0), 3 * k, f"t{k % 3}") for k in range(40)]
        + [(k, 7, 3 * k, f"t{k % 3}") for k in range(40, 44)]
    )
    assert _rows(s.read()) == want
