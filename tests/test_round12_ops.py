"""Round-12 optimization semantics guards: the right-outer merge
join, the dedup-free one-pass DV write, the cached live-row count,
the overlapped DML writes, and the streaming bootstrap shortcuts must
all be invisible in results. Also: store reads take their schema from
the version's own footer (no inference job), the change feed types
its columns from the same footer, and streaming view epochs commit the
diff they computed (``DocumentStore.apply_changes``)."""

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
from far_finer_airtable_firestore_sync_spark.sources import store as store_mod
from far_finer_airtable_firestore_sync_spark.sources.store import (
    _LIVE_ROWS_CACHE,
    _POS_COLS,
    DocumentStore,
    _dv_position_count,
    _masked_scan,
    _run_concurrently,
    _version_live_rows,
    diff_frames,
    version_commit_ms,
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
            "masked_scan": lambda: _masked_scan(spark, vd, positions=True),
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


# ---------------------------------------------------------------------------
# IVM view epochs commit the diff they computed (DocumentStore.apply_changes)
# ---------------------------------------------------------------------------


def _feed(spark, root):
    assert cdf_source.register(spark)
    return spark.readStream.format("store_cdf").option("path", root).load()


def _join_stores(spark, root):
    """A 60-row fact store over a 10-row dimension, both with a feed."""
    fact = DocumentStore(spark, os.path.join(root, "fact"), "k")
    dim = DocumentStore(spark, os.path.join(root, "dim"), "d")
    dim.commit(
        spark.createDataFrame(
            [(i, f"seg{i % 3}") for i in range(10)], "d long, seg string"
        ),
        cdf=True,
    )
    fact.commit(
        spark.createDataFrame(
            [(i, i % 10, i * 100) for i in range(60)],
            "k long, dk long, amt long",
        ),
        cdf=True,
    )
    view = DocumentStore(spark, os.path.join(root, "view"), "k")
    summ = DocumentStore(spark, os.path.join(root, "summ"), "seg")
    return fact, dim, view, summ


def _start_join(spark, root, fact, dim, view, summ, view_cols, stats=None):
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_join_sync,
    )

    return cdf_join_sync(
        _feed(spark, fact.root), _feed(spark, dim.root),
        fact, dim, view, summ, os.path.join(root, "ck"),
        fact_key="k", dim_fk="dk", dim_key="d", view_cols=view_cols,
        group_col="seg", count_col="n", sum_map={"s": "amt"},
        query_name="jv", stats=stats,
    )


def _join_recompute(fact, dim, view_cols):
    f, d = fact.read().alias("f"), dim.read().alias("d")
    vx = f.join(d, F.col("f.dk") == F.col("d.d")).select(*view_cols)
    sx = vx.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s")
    )
    return vx, sx


def _target_of(s, spark):
    """A target differing from ``s``'s 200 documents by updates,
    deletes and inserts."""
    return (
        s.read().filter("k % 10 <> 3")
        .withColumn("val", F.expr("if(k % 7 = 0, val + 1, val)"))
        .unionByName(_docs(spark, 205).filter("k >= 200"))
    )


def _job_window(spark, run):
    """Ids of the Spark jobs submitted while ``run()`` runs, job group
    or not: one marker job before and one after (job ids are dense in
    submission order), so the commit's concurrent writes, which run on
    pool threads outside the caller's job group, count too."""
    sc = spark.sparkContext

    def marker():
        group = f"mark-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job-id marker")
        try:
            sc.parallelize([1], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        (jid,) = sc.statusTracker().getJobIdsForGroup(group)
        return jid

    lo = marker()
    group = f"commit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "one apply_changes commit")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    hi = marker()
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    window = set(range(lo + 1, hi))
    assert in_group <= window
    return sorted(window)


def _scanned_roots(df):
    """Root paths of the file relations ``df``'s optimized plan reads
    (a cached frame's own scans stay inside its in-memory relation)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            paths = leaf.relation().location().rootPaths()
            roots += [
                paths.apply(j).toUri().getPath() for j in range(paths.size())
            ]
    return roots


class TestApplyChanges:
    def test_applies_a_diff_and_records_it(self, spark, tmp_root):
        """A diff_frames change set commits as one DV version: the
        store then reads as the target, the sidecar holds exactly the
        change rows (without their positions) and the txn marker rides
        the flip."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 200))
        cur = s.current_version_dir()
        target = _target_of(s, spark)
        changes = diff_frames(
            _masked_scan(spark, cur, positions=True), target, "k",
            include_old=True,
        )
        out, counts = s.apply_changes(
            changes, expected_version=cur, txn=("app", "1"), cdf=True
        )
        assert out != cur and s.current_version_dir() == out
        assert counts == {
            "updated": 27, "deleted": 20, "inserted": 5,
            "deleted_by_source": 0,
        }
        _assert_same(s.read(), target)
        _assert_same(
            spark.read.parquet(os.path.join(out, "_changes")),
            changes.drop(*_POS_COLS),
        )
        assert s.last_txn("app") == "1"

    def test_empty_change_set_records_only_the_marker(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 50))
        cur = s.current_version_dir()
        changes = diff_frames(
            _masked_scan(spark, cur, positions=True), s.read(), "k",
            include_old=True,
        )
        out, counts = s.apply_changes(
            changes, expected_version=cur, txn=("app", "7")
        )
        assert out == cur and not any(counts.values())
        assert s.list_versions() == [cur]
        assert s.last_txn("app") == "7"

    def test_change_set_of_another_version_is_refused(
        self, spark, tmp_root
    ):
        """A change set diffed against the version before a delete
        names that version in its positions, so it is refused against
        the version the delete published: nothing is published."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 50))
        old = _masked_scan(spark, s.current_version_dir(), positions=True)
        changes = diff_frames(
            old, old.filter("k >= 10"), "k", include_old=True
        ).localCheckpoint()
        s.delete_where("k < 5")
        versions = s.list_versions()
        with pytest.raises(ValueError, match="not computed against"):
            s.apply_changes(changes)
        assert s.list_versions() == versions

    def test_change_set_without_positions_is_refused(self, spark, tmp_root):
        """A change set whose old side was not read with its positions
        has no mask to commit: refused, nothing published."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 50))
        changes = diff_frames(
            s.read(), s.read().filter("k >= 10"), "k", include_old=True
        )
        versions = s.list_versions()
        with pytest.raises(ValueError, match="position columns"):
            s.apply_changes(changes)
        assert s.list_versions() == versions

    def test_commit_reads_no_base_data(self, spark, tmp_root, monkeypatch):
        """The mask is the change set's own positions: with the change
        set cached (as every IVM commit caches it), no frame the commit
        collects or writes scans a file of the base version. Below the
        driver-write bound the commit is ONE job, the collect of the
        mask and the images (``store._collect_sliver``). With the bound
        at 0 (the Spark writers, ``tests/test_driver_dml.py`` re-runs
        this class so) it is exactly the counts aggregate, the mask
        write and the append. The aggregate is one job: the cache keeps
        the partitioning AQE gave it
        (``canChangeCachedPlanOutputPartitioning``, as every session of
        the repo runs), one partition for this sliver, so the global
        aggregate needs no shuffle."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 200))
        cur = s.current_version_dir()
        target = _target_of(s, spark)
        changes = diff_frames(
            _masked_scan(spark, cur, positions=True), target, "k",
            include_old=True,
        ).persist()
        changes.count()
        seen = {}
        collect = store_mod._collect_sliver
        write_dv = store_mod.write_deletion_vectors

        def spy_collect(base, source, parts, n_rows=None):
            seen.update({
                name: store_mod._project(source, part)
                for name, part in parts.items()
            })
            return collect(base, source, parts, n_rows)

        def spy_dv(*args, **kwargs):
            seen["positions"] = kwargs["positions"]
            return write_dv(*args, **kwargs)

        monkeypatch.setattr(store_mod, "_collect_sliver", spy_collect)
        monkeypatch.setattr(store_mod, "write_deletion_vectors", spy_dv)
        try:
            jobs = _job_window(
                spark, lambda: s.apply_changes(changes, expected_version=cur)
            )
            scanned = [
                r for df in seen.values() if df is not None
                for r in _scanned_roots(df)
            ]
        finally:
            changes.unpersist()
        on_driver = store_mod._DML_DRIVER_MAX_ROWS > 0
        assert ("positions" in seen) != on_driver
        assert os.path.realpath(cur) not in map(os.path.realpath, scanned)
        assert len(jobs) == (1 if on_driver else 3), jobs
        _assert_same(s.read(), target)


class TestViewAppliesItsDiff:
    def test_no_change_epoch_still_advances_the_feed_pins(
        self, spark, tmp_root
    ):
        """A dimension insert that no fact references changes no view
        row, but its epoch must still record the marker carrying the
        dimension's pin: the next epoch joins a fact insert that
        references the new dimension row against the new snapshot."""
        fact, dim, view, summ = _join_stores(spark, tmp_root)
        cols = ["k", "dk", "amt", "seg"]
        q = _start_join(spark, tmp_root, fact, dim, view, summ, cols)
        try:
            q.processAllAvailable()  # bootstrap
            dim.merge_into(
                spark.createDataFrame([(20, "segNew")], "d long, seg string"),
                cdf=True,
            )
            nv = len(view.list_versions())
            q.processAllAvailable()
            after_dim = (len(view.list_versions()), view.last_txn("jv"))
            dim_ms = version_commit_ms(dim.current_version_dir())
            fact.merge_into(
                spark.createDataFrame(
                    [(2000, 20, 7)], "k long, dk long, amt long"
                ),
                cdf=True,
            )
            q.processAllAvailable()
        finally:
            q.stop()
        vx, sx = _join_recompute(fact, dim, cols)
        got = view.read().collect()
        assert [r["seg"] for r in got if r["k"] == 2000] == ["segNew"]
        assert sorted(got) == sorted(vx.collect())
        assert sorted(summ.read().collect()) == sorted(sx.collect())
        # the no-change epoch wrote no version, only the marker
        versions, marker = after_dim
        assert versions == nv
        epoch, _fact_ms, pin = marker.split(":")
        assert (int(epoch), int(pin)) == (1, dim_ms)

    def test_update_to_identical_values_changes_nothing(
        self, spark, tmp_root
    ):
        """A fact merge that rewrites a row to the values it already
        holds is an ``update`` in the fact feed, but the re-joined view
        row equals the stored one: the epoch writes no view change row
        and no summary version, and records only its markers."""
        fact, dim, view, summ = _join_stores(spark, tmp_root)
        cols = ["k", "dk", "amt", "seg"]
        stats = []
        q = _start_join(spark, tmp_root, fact, dim, view, summ, cols, stats)
        try:
            q.processAllAvailable()  # bootstrap
            views, summs = view.list_versions(), summ.list_versions()
            summary = sorted(summ.read().collect())
            _o, counts = fact.merge_into(
                spark.createDataFrame([(7, 7, 700)], "k long, dk long, amt long"),
                when_matched_update={"dk": "s.dk", "amt": "s.amt"},
                cdf=True,
            )
            assert counts["updated"] == 1
            q.processAllAvailable()
        finally:
            q.stop()
        nothing = {
            "updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0,
        }
        assert stats[-1]["view"] == nothing
        assert stats[-1]["summary"] == nothing
        assert view.list_versions() == views
        assert summ.list_versions() == summs
        assert sorted(summ.read().collect()) == summary
        epoch = str(stats[-1]["epoch"])
        assert view.last_txn("jv").split(":")[0] == epoch
        assert summ.last_txn("jv") == epoch

    def test_duplicate_dimension_key_rejects_the_epoch(
        self, spark, tmp_root
    ):
        """A dimension store committed with a duplicate key repeats
        fact keys in the re-joined slice: the epoch raises and no view
        version is published."""
        fact, dim, view, summ = _join_stores(spark, tmp_root)
        q = _start_join(
            spark, tmp_root, fact, dim, view, summ,
            ["k", "dk", "amt", "seg"],
        )
        try:
            q.processAllAvailable()  # bootstrap
            nv, marker = len(view.list_versions()), view.last_txn("jv")
            dim.commit(
                dim.read().unionByName(
                    spark.createDataFrame([(4, "segY")], "d long, seg string")
                ),
                cdf=True,
            )
            with pytest.raises(Exception, match=r"ValueError[\s\S]*duplicate"):
                q.processAllAvailable()
        finally:
            q.stop()
        assert len(view.list_versions()) == nv
        assert view.last_txn("jv") == marker


@pytest.fixture(scope="class")
def star_epochs(spark):
    """A 2-dimension star maintained with ``view_cdf=True``, one epoch
    per upstream step of every kind, checked against the recompute
    after each epoch. The view leaves out the second foreign key
    (``fb``), whose move to a missing dimension row is a departure.
    The view's ``merge_into`` is replaced by one that raises: view
    commits never go back through MERGE."""
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_star_sync,
    )

    root = tempfile.mkdtemp(prefix="ffs_r12_star_")
    fact = DocumentStore(spark, os.path.join(root, "fact"), "k")
    da = DocumentStore(spark, os.path.join(root, "da"), "a")
    db = DocumentStore(spark, os.path.join(root, "db"), "b")
    da.commit(
        spark.createDataFrame(
            [(i, f"A{i % 2}") for i in range(6)], "a long, aseg string"
        ),
        cdf=True,
    )
    db.commit(
        spark.createDataFrame(
            [(i, f"B{i % 3}") for i in range(9)], "b long, bseg string"
        ),
        cdf=True,
    )
    fact.commit(
        spark.createDataFrame(
            [(i, i % 6, i % 9, i * 10, "n") for i in range(60)],
            "k long, fa long, fb long, amt long, note string",
        ),
        cdf=True,
    )
    view = DocumentStore(spark, os.path.join(root, "view"), "k")
    summ = DocumentStore(spark, os.path.join(root, "summ"), "aseg")

    def refuse(*_a, **_k):
        raise AssertionError("view commit went through merge_into")

    view.merge_into = refuse
    cols = ["k", "fa", "amt", "aseg", "bseg"]

    def matches_recompute() -> tuple[bool, bool]:
        """(view == recompute, summary == recompute): the view and the
        recomputed star come back in one action, the summary in one."""
        f, va, vb = fact.read().alias("f"), da.read().alias("da"), \
            db.read().alias("db")
        vx = (
            f.join(va, F.col("f.fa") == F.col("da.a"))
            .join(vb, F.col("f.fb") == F.col("db.b"))
            .select(*cols)
        )
        both = view.read().select(*cols, F.lit(True).alias("got")) \
            .unionByName(vx.withColumn("got", F.lit(False))).collect()
        got = sorted(tuple(r)[:-1] for r in both if r["got"])
        want = sorted(tuple(r)[:-1] for r in both if not r["got"])
        sx: dict = {}
        for r in want:
            n, total = sx.get(r[3], (0, 0))
            sx[r[3]] = (n + 1, total + r[2])  # aseg -> (n, sum of amt)
        summary = {r["aseg"]: (r["n"], r["s"]) for r in summ.read().collect()}
        return got == want, summary == sx

    steps = {
        "bootstrap": lambda: None,
        "fact update, non-view column": lambda: fact.update_where(
            "k % 7 = 0", {"note": "'x'"}, cdf=True
        ),
        "fact update, view column": lambda: fact.update_where(
            "k % 15 = 1", {"amt": "amt + 5"}, cdf=True
        ),
        "dimension group move": lambda: da.update_where(
            "a = 2", {"aseg": "'AX'"}, cdf=True
        ),
        "foreign key to a missing dimension row": lambda: fact.update_where(
            "k = 7", {"fb": "99"}, cdf=True
        ),
        "fact delete": lambda: fact.delete_where("k % 10 = 9", cdf=True),
        "fact insert": lambda: fact.merge_into(
            spark.createDataFrame(
                [(1000, 2, 4, 77, "n"), (1001, 5, 8, 78, "n")],
                "k long, fa long, fb long, amt long, note string",
            ),
            cdf=True,
        ),
    }
    stats: list = []
    epochs = []
    q = cdf_star_sync(
        _feed(spark, fact.root),
        [_feed(spark, da.root), _feed(spark, db.root)],
        fact, [da, db], view, summ, os.path.join(root, "ck"),
        fact_key="k", dim_fks=["fa", "fb"], dim_keys=["a", "b"],
        view_cols=cols, group_col="aseg", count_col="n",
        sum_map={"s": "amt"}, query_name="star", stats=stats, view_cdf=True,
    )
    try:
        for name, step in steps.items():
            step()
            q.processAllAvailable()
            view_equal, summary_equal = matches_recompute()
            epochs.append({
                "step": name,
                "view_equal": view_equal,
                "summary_equal": summary_equal,
                "versions": len(view.list_versions()),
            })
    finally:
        q.stop()
    yield {
        "epochs": epochs, "stats": stats, "view": view, "root": root,
        "stores": (fact, da, db, summ),
    }
    shutil.rmtree(root, ignore_errors=True)


class TestStarViewEpochs:
    def test_every_epoch_equals_the_recompute(self, star_epochs):
        """After every epoch the view and its summary equal the full
        recompute; a non-bootstrap epoch never called merge_into."""
        epochs = star_epochs["epochs"]
        assert len(epochs) == 7
        for e in epochs:
            assert e["view_equal"] and e["summary_equal"], e
        # the non-view-column update changed no view row: no version
        assert epochs[1]["versions"] == epochs[0]["versions"]
        assert [s["epoch"] for s in star_epochs["stats"]] == list(range(7))

    def test_view_without_foreign_key_column(self, spark, star_epochs):
        """The view need not carry a foreign key (the fixture's view
        omits ``fb`` and stayed equal to the recompute); it must carry
        the fact key."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_star_sync,
        )

        assert "fb" not in star_epochs["view"].read().columns
        fact, da, db, summ = star_epochs["stores"]
        with pytest.raises(ValueError, match="fact key"):
            cdf_star_sync(
                _feed(spark, fact.root),
                [_feed(spark, da.root), _feed(spark, db.root)],
                fact, [da, db], star_epochs["view"], summ,
                os.path.join(star_epochs["root"], "ck_x"),
                fact_key="k", dim_fks=["fa", "fb"], dim_keys=["a", "b"],
                view_cols=["fa", "amt", "aseg"], group_col="aseg",
                count_col="n", sum_map={"s": "amt"},
            )

    def test_view_feed_holds_exactly_the_real_changes(
        self, spark, star_epochs
    ):
        """Each view version's change sidecar equals the diff of that
        version against its predecessor, so no ``update`` row's post
        image equals its pre image."""
        view = star_epochs["view"]
        versions = view.list_versions()
        feed = spark.read.format("store_cdf").option(
            "path", view.root
        ).load()
        rows = feed.collect()
        boot_ms = version_commit_ms(versions[0])
        assert {r["change_type"] for r in rows if r["commit_ms"] == boot_ms} \
            == {"insert"}
        later = [r for r in rows if r["commit_ms"] > boot_ms]
        real = None
        for prev, cur in zip(versions, versions[1:]):
            diff = view.diff_versions(prev, cur, include_old=True).withColumn(
                "commit_ms", F.lit(version_commit_ms(cur))
            )
            real = diff if real is None else real.unionByName(diff)
        assert sorted(later, key=str) == sorted(
            real.select(*feed.columns).collect(), key=str
        )
        assert not [
            r for r in later if r["change_type"] == "update" and all(
                r[c] == r[f"old_{c}"] for c in ("fa", "amt", "aseg", "bseg")
            )
        ]

    def test_second_tier_rollup_over_the_view_feed(self, spark, star_epochs):
        """A tier-2 cdf_rollup_sync over the view's own feed equals the
        rollup of the maintained view."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_rollup_sync,
        )

        view, root = star_epochs["view"], star_epochs["root"]
        tier2 = DocumentStore(spark, os.path.join(root, "t2"), "fa")
        q = cdf_rollup_sync(
            _feed(spark, view.root), tier2, os.path.join(root, "ck2"),
            "fa", "n", {"s": "amt"}, "t2",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        _assert_same(
            tier2.read(),
            view.read().groupBy("fa").agg(
                F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s")
            ),
        )


# ---------------------------------------------------------------------------
# Summary epochs commit their own diff too (no MERGE in streaming/sync.py)
# ---------------------------------------------------------------------------


def _run_query(start):
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


class TestSummariesApplyTheirDiff:
    def test_no_summary_epoch_calls_merge_into(
        self, spark, tmp_root, monkeypatch
    ):
        """With ``DocumentStore.merge_into`` replaced by a function that
        raises, non-bootstrap epochs of the rollup, extrema and star
        consumers commit and equal the recompute."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_extrema_sync,
            cdf_rollup_sync,
            cdf_star_sync,
        )

        fact, dim, view, summ = _join_stores(spark, tmp_root)
        roll = DocumentStore(spark, os.path.join(tmp_root, "roll"), "dk")
        ext = DocumentStore(spark, os.path.join(tmp_root, "ext"), "dk")
        cols = ["k", "dk", "amt", "seg"]
        stats = {"roll": [], "ext": [], "star": []}
        starts = [
            lambda: cdf_rollup_sync(
                _feed(spark, fact.root), roll,
                os.path.join(tmp_root, "ck_roll"),
                "dk", "n", {"s": "amt"}, "roll", stats=stats["roll"],
            ),
            lambda: cdf_extrema_sync(
                _feed(spark, fact.root), fact, ext,
                os.path.join(tmp_root, "ck_ext"),
                "dk", "n", {"s": "amt"}, {"mn": "amt"}, {"mx": "amt"},
                "ext", stats=stats["ext"],
            ),
            lambda: cdf_star_sync(
                _feed(spark, fact.root), [_feed(spark, dim.root)],
                fact, [dim], view, summ, os.path.join(tmp_root, "ck_star"),
                fact_key="k", dim_fks=["dk"], dim_keys=["d"],
                view_cols=cols, group_col="seg", count_col="n",
                sum_map={"s": "amt"}, query_name="star",
                stats=stats["star"],
            ),
        ]
        for start in starts:  # bootstrap
            _run_query(start)

        def refuse(*_a, **_k):
            raise AssertionError("a summary epoch called merge_into")

        monkeypatch.setattr(DocumentStore, "merge_into", refuse)
        fact.update_where("k % 7 = 0", {"amt": "amt + 3"}, cdf=True)
        fact.delete_where("k = 59", cdf=True)  # group 9's max: recompute leg
        dim.update_where("d = 4", {"seg": "'segX'"}, cdf=True)
        for start in starts:
            _run_query(start)
        assert [len(v) for v in stats.values()] == [2, 2, 2]
        assert not any("bootstrap" in v[-1] for v in stats.values())
        assert stats["star"][-1]["summary"]["updated"] > 0
        f = fact.read()
        _assert_same(
            roll.read(),
            f.groupBy("dk").agg(
                F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s")
            ),
        )
        _assert_same(
            ext.read(),
            f.groupBy("dk").agg(
                F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"),
                F.min("amt").alias("mn"), F.max("amt").alias("mx"),
            ),
        )
        vx, sx = _join_recompute(fact, dim, cols)
        _assert_same(view.read().select(*cols), vx)
        _assert_same(summ.read(), sx)

    def test_net_zero_epoch_writes_no_summary_version(self, spark, tmp_root):
        """Two updates in one upstream commit cancel inside one group:
        the epoch writes no summary version, the summary's txn marker
        advances, and a restart that replays the epoch re-applies
        nothing."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_rollup_sync,
        )

        src = DocumentStore(spark, os.path.join(tmp_root, "src"), "k")
        src.commit(_docs(spark, 40), cdf=True)
        roll = DocumentStore(spark, os.path.join(tmp_root, "roll"), "grp")
        ck = os.path.join(tmp_root, "ck")
        stats: list = []

        def start():
            return cdf_rollup_sync(
                _feed(spark, src.root), roll, ck,
                "grp", "n", {"s": "val"}, "nz", stats=stats,
            )

        _run_query(start)  # bootstrap
        versions, summary = roll.list_versions(), sorted(roll.read().collect())
        # k = 1 and k = 6 are both in grp 1: +5 and -5 cancel
        src.update_where(
            "k in (1, 6)", {"val": "if(k = 1, val + 5, val - 5)"}, cdf=True
        )
        _run_query(start)
        assert stats[-1] == {
            "epoch": 1, "updated": 0, "deleted": 0, "inserted": 0,
            "deleted_by_source": 0,
        }
        assert roll.list_versions() == versions
        assert roll.last_txn("nz") == "1"
        assert sorted(roll.read().collect()) == summary
        # drop the stream's record of epoch 1: the restart runs it again
        for name in ("1", ".1.crc"):
            path = os.path.join(ck, "commits", name)
            if os.path.exists(path):
                os.remove(path)
        _run_query(start)
        assert len(stats) == 2
        assert roll.list_versions() == versions
        assert sorted(roll.read().collect()) == summary
