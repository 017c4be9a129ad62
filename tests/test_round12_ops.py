"""Round-12 optimization semantics guards: the right-outer merge
join, the dedup-free one-pass DV write, the cached live-row count,
the overlapped DML writes, and the streaming bootstrap shortcuts must
all be invisible in results. Also: store reads take their schema from
the version's own footer (no inference job), and the change feed types
its columns from the same footer."""

import datetime
import json
import os
import shutil
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.sources import cdf_source
from far_finer_airtable_firestore_sync_spark.sources.backends import (
    TransactionalParquetBackend,
)
from far_finer_airtable_firestore_sync_spark.sources.store import (
    _LIVE_ROWS_CACHE,
    DocumentStore,
    _dv_position_count,
    _masked_scan_with_positions,
    _run_concurrently,
    _version_live_rows,
    write_deletion_vectors,
)


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="ffs_r12_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, n=2000):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 2).alias("val"),
    )


def _assert_same(got, want):
    assert (
        got.exceptAll(want).unionByName(want.exceptAll(got)).count() == 0
    )


class TestRightOuterMergeJoin:
    def test_merge_without_nbs_matches_full_semantics(self, spark, tmp_root):
        """The right-outer shape must produce the same counts, post
        state and no-op behavior as the full-outer shape did:
        unmatched target rows survive untouched."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark))
        src = spark.range(1500, 2500).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            F.lit(-1).cast("long").alias("val"),
        )
        _out, counts = s.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=True,
        )
        assert counts == {
            "updated": 500,
            "deleted": 0,
            "inserted": 500,
            "deleted_by_source": 0,
        }
        want = (
            _docs(spark)
            .filter("k < 1500")
            .unionByName(src)
        )
        _assert_same(s.read(), want)

    def test_merge_with_nbs_still_deletes_unmatched(self, spark, tmp_root):
        """The not-matched-by-source clause keeps the full outer: a
        target row with no source match must still take the delete."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 100))
        src = spark.range(0, 50).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            F.lit(7).cast("long").alias("val"),
        )
        _out, counts = s.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=True,
            when_not_matched_by_source_delete="true",
        )
        assert counts["deleted_by_source"] == 50
        _assert_same(s.read(), src)

    def test_matched_delete_clause_right_outer(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 100))
        src = spark.range(0, 40).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") % 2).alias("val"),
        )
        _out, counts = s.merge_into(
            src,
            when_matched_update={"val": "t.val + s.val"},
            when_matched_delete="s.val = 1",
            when_not_matched_insert=True,
        )
        assert counts["deleted"] == 20 and counts["updated"] == 20
        got_keys = {r["k"] for r in s.read().select("k").collect()}
        assert got_keys == set(range(0, 40, 2)) | set(range(40, 100))


class TestDvPositionsNoDedup:
    def test_accumulated_masks_stay_distinct(self, spark, tmp_root):
        """Two DML commits mask disjoint position sets; the sidecar
        total (footer rows) must equal the distinct union — the
        removed dedup shuffle was provably a no-op."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 1000))
        s.delete_where("k % 10 = 0", cdf=True)     # 100 masked
        v2, n = s.update_where("k % 7 = 0", {"val": "val + 1"}, cdf=True)
        # update masks only rows still visible (k%7==0 and k%10!=0)
        assert n == sum(
            1 for k in range(1000) if k % 7 == 0 and k % 10 != 0
        )
        total = _dv_position_count(v2)
        assert total == 100 + n  # distinct by construction, no dupes
        _assert_same(
            s.read(),
            _docs(spark, 1000)
            .filter("k % 10 != 0")
            .withColumn(
                "val",
                F.expr("case when k % 7 = 0 then val + 1 else val end"),
            ),
        )

    def test_predicate_form_still_dedups_overlap(self, spark, tmp_root):
        """The raw-scan predicate form can re-match already-masked
        rows; its distinct must survive the round-12 elision."""
        s = DocumentStore(spark, tmp_root, "k")
        vd = s.commit(_docs(spark, 200))
        n1 = write_deletion_vectors(spark, vd, "k % 4 = 0")
        n2 = write_deletion_vectors(spark, vd, "k % 2 = 0")  # overlaps
        assert n1 == 50 and n2 == 100  # union stays distinct
        assert s.read().count() == 100


class TestLiveRowsCache:
    def test_cache_written_and_reused(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        vd = s.commit(_docs(spark, 500))
        assert _version_live_rows(vd) == 500
        cache = os.path.join(vd, _LIVE_ROWS_CACHE)
        assert json.load(open(cache))["live_rows"] == 500
        # poison the cache to prove the fast path reads it
        json.dump({"live_rows": 123}, open(cache, "w"))
        assert _version_live_rows(vd) == 123

    def test_successor_version_never_inherits_cache(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        vd = s.commit(_docs(spark, 500))
        assert _version_live_rows(vd) == 500  # seeds the cache
        v2, _n = s.delete_where("k % 5 = 0")
        assert not os.path.exists(os.path.join(v2, _LIVE_ROWS_CACHE))
        assert _version_live_rows(v2) == 400
        hist = {
            r["version_dir"]: r["n_rows"]
            for r in s.describe_history().collect()
        }
        assert sorted(hist.values()) == [400, 500]

    def test_free_function_dv_write_invalidates(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        vd = s.commit(_docs(spark, 300))
        assert _version_live_rows(vd) == 300  # cached
        write_deletion_vectors(spark, vd, "k < 30")
        assert _version_live_rows(vd) == 270  # cache was dropped

    def test_failed_cache_removal_never_serves_stale_count(
        self, spark, tmp_root, monkeypatch
    ):
        """The cache names the mask it counted: a mask swap whose
        cache removal fails (or never happens) still re-walks."""
        s = DocumentStore(spark, tmp_root, "k")
        vd = s.commit(_docs(spark, 300))
        write_deletion_vectors(spark, vd, "k < 10")
        assert _version_live_rows(vd) == 290  # cached with this mask
        real_remove = os.remove

        def failing_remove(path, *a, **kw):
            if os.path.basename(path) == _LIVE_ROWS_CACHE:
                raise OSError("simulated removal failure")
            return real_remove(path, *a, **kw)

        monkeypatch.setattr(os, "remove", failing_remove)
        write_deletion_vectors(spark, vd, "k < 30")
        assert _version_live_rows(vd) == 270


class TestOverlappedDmlWrites:
    def test_run_concurrently_keeps_every_failure(self):
        """Both writes fail: the first thunk's exception is raised and
        the second one's message rides along as a note."""

        def fail(msg):
            def thunk():
                raise ValueError(msg)

            return thunk

        with pytest.raises(ValueError, match="first write") as ei:
            _run_concurrently(fail("first write"), fail("second write"))
        assert any("second write" in n for n in ei.value.__notes__)

    def test_update_where_cdf_sidecar_and_append(self, spark, tmp_root):
        """The overlapped append + CDF writes must leave the same
        version contents as the sequential form."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 400))
        v2, n = s.update_where("k % 3 = 0", {"val": "val + 5"}, cdf=True)
        assert n == sum(1 for k in range(400) if k % 3 == 0)
        ch = spark.read.parquet(os.path.join(v2, "_changes"))
        assert ch.count() == n
        assert {r["change_type"] for r in ch.collect()} == {"update"}
        _assert_same(
            s.read(),
            _docs(spark, 400).withColumn(
                "val",
                F.expr("case when k % 3 = 0 then val + 5 else val end"),
            ),
        )

    def test_txn_merge_cdf_overlapped(self, spark, tmp_root):
        b = TransactionalParquetBackend(spark, tmp_root, "k", writer_id="A")
        b.commit(_docs(spark, 300), cdf=True)
        src = spark.range(200, 350).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            F.lit(9).cast("long").alias("val"),
        )
        _out, counts = b.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=True,
            cdf=True,
        )
        assert counts["updated"] == 100 and counts["inserted"] == 50
        want = _docs(spark, 300).filter("k < 200").unionByName(src)
        _assert_same(b.read(), want)
        # the CDF sidecar landed alongside the overlapped writes
        _v, rec = b.latest()
        ch = spark.read.parquet(
            os.path.join(tmp_root, rec["version_dir"], "_changes")
        )
        assert ch.count() == 150


def _job_ids(spark, build):
    """Spark job ids run while ``build()`` builds (not runs) its
    DataFrames — tagged by a throwaway job group."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count DataFrame-build jobs")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


class TestFooterSchemaReads:
    def test_store_reads_build_without_a_job(self, spark, tmp_root):
        """Every read path of a flat DV-carrying version takes its
        schema from the footer: building the frame runs no job."""
        s = DocumentStore(spark, os.path.join(tmp_root, "s"), "k")
        s.commit(_docs(spark, 500))
        s.delete_where("k % 7 = 0")
        vd = s.current_version_dir()
        assert os.path.isdir(os.path.join(vd, "_deletion_vectors"))
        s.read_where("k", 10, 20)  # builds the zone manifest
        now_ms = int(time.time() * 1000)
        b = TransactionalParquetBackend(
            spark, os.path.join(tmp_root, "t"), "k", writer_id="A"
        )
        b.commit(_docs(spark, 500))
        b.delete_where("k % 7 = 0")
        builds = {
            "read": s.read,
            "read_version": lambda: s.read_version(vd),
            "read_as_of": lambda: s.read_as_of(now_ms + 60_000),
            "read_where": lambda: s.read_where("k", 10, 20),
            "masked_scan": lambda: _masked_scan_with_positions(spark, vd),
            "txn_read": b.read,
        }
        for name, build in builds.items():
            assert _job_ids(spark, build) == [], name
        assert s.read().count() == 500 - 72
        assert b.read().count() == 500 - 72

    @pytest.mark.parametrize(
        "shape",
        ["plain", "dv", "mixed", "hive", "all_deleted", "empty_first"],
    )
    def test_read_schema_matches_spark_inference(
        self, spark, tmp_root, shape
    ):
        s = DocumentStore(spark, tmp_root, "k")
        if shape == "empty_first":
            s.commit(_docs(spark, 0))
        else:
            s.commit(_docs(spark, 200))
        if shape == "dv":
            s.delete_where("k % 3 = 0")
        elif shape == "all_deleted":
            s.delete_where("true")
        elif shape == "hive":
            s.compact(partition_by=["grp"])
        elif shape == "mixed":
            src = spark.range(150, 250).select(
                F.col("id").alias("k"),
                (F.col("id") % 5).alias("grp"),
                F.lit(1).cast("long").alias("val"),
                F.lit("x").alias("tag"),
            )
            s.merge_into(
                src,
                when_matched_update={"val": "s.val", "tag": "s.tag"},
                when_not_matched_insert=True,
                schema_evolution=True,
            )
        vd = s.current_version_dir()
        reader = spark.read
        if shape == "mixed":
            assert os.path.exists(os.path.join(vd, "_mixed_schema"))
            reader = reader.option("mergeSchema", "true")
        assert s.read().schema == reader.parquet(vd).schema
        want = {"plain": 200, "dv": 133, "mixed": 250, "hive": 200}
        assert s.read().count() == want.get(shape, 0)


def test_store_cdf_keeps_the_store_types(spark, tmp_root):
    """The change feed types its columns from the sidecar footer's
    Spark schema: timestamp_ntz stays timestamp_ntz (not timestamp)
    and array and struct columns are served, pre-images included."""
    assert cdf_source.register(spark)
    rows = [
        (1, datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2], (7, "x")),
        (2, datetime.datetime(2024, 6, 7, 8, 9, 10), [], None),
        (3, None, None, (None, "y")),
    ]
    df = spark.createDataFrame(
        rows,
        "k bigint, ts timestamp_ntz, arr array<int>, "
        "st struct<a: int, b: string>",
    )
    s = DocumentStore(spark, tmp_root, "k")
    s.commit(df, cdf=True)
    store_types = s.read().dtypes
    feed = spark.read.format("store_cdf").option("path", tmp_root).load()
    assert feed.dtypes == (
        store_types[:1]
        + [("change_type", "string")]
        + store_types[1:]
        + [(f"old_{c}", t) for c, t in store_types[1:]]
        + [("commit_ms", "bigint")]
    )
    got = sorted(
        (
            r["k"], r["change_type"], r["ts"], r["arr"],
            None if r["st"] is None else tuple(r["st"]),
            r["old_ts"], r["old_arr"], r["old_st"],
        )
        for r in feed.collect()
    )
    assert got == [
        (k, "insert", ts, arr, st, None, None, None)
        for k, ts, arr, st in rows
    ]
