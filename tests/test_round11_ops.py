"""Round-11 operators: bin-packing OPTIMIZE (both protocols), fused
MERGE validation, MERGE schema evolution, RESTORE/clone on the
lock-free log, delta-summary CDF commits, two-feed join-view sync."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.sources.backends import (
    TransactionalParquetBackend,
)
from far_finer_airtable_firestore_sync_spark.sources.store import (
    DocumentStore,
    _binpack_classify,
    _dv_position_count,
    _dv_positions,
)


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="ffs_r11_")
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


# ---------------------------------------------------------------------------
# bin-packing OPTIMIZE (r10 VERDICT #1)
# ---------------------------------------------------------------------------


class TestBinpackSingleWriter:
    def test_links_big_rewrites_small_and_preserves_view(
        self, spark, tmp_root
    ):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark).coalesce(2))
        for i in range(3):  # three sliver appends
            s.update_where(f"k % 100 = {i}", {"val": "val + 1"})
        vd = s.current_version_dir()
        small, big = _binpack_classify(vd, 1000)
        assert len(small) == 3 and len(big) == 2
        inodes = {
            r: os.stat(os.path.join(vd, r)).st_ino for r, _ in big
        }
        before = s.read()
        prior_mask = _dv_position_count(vd)
        nvd, stats = s.optimize_binpack(
            min_rows_per_file=1000, target_rows_per_file=1_000_000
        )
        assert stats["n_rewritten"] == 3 and stats["n_linked"] == 2
        assert stats["n_files_written"] == 1
        # (a) untouched files are the same inode
        for r, ino in inodes.items():
            assert os.stat(os.path.join(nvd, r)).st_ino == ino
        # linked files keep their mask entries verbatim
        assert _dv_position_count(nvd) == prior_mask
        # (c) the masked view is unchanged
        _assert_same(s.read(), before)

    def test_fixed_point_no_op_after_pack(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark).coalesce(2))
        s.update_where("k % 100 = 0", {"val": "val + 1"})
        s.update_where("k % 100 = 1", {"val": "val + 1"})
        nvd, stats = s.optimize_binpack(min_rows_per_file=1000)
        assert stats["n_rewritten"] == 2
        # second run: the pack's own small output file is unmasked and
        # alone in its directory -> converged, nothing commits
        nvd2, stats2 = s.optimize_binpack(min_rows_per_file=1000)
        assert nvd2 == nvd and stats2["n_rewritten"] == 0
        assert len(s.list_versions()) == 4  # no version churn

    def test_lone_masked_small_file_repacks_and_materializes(
        self, spark, tmp_root
    ):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark).coalesce(1))
        s.update_where("k < 50", {"val": "val + 10"})
        # delete rows that live in the APPENDED small file
        s.delete_where("k < 10 and val = k * 2 + 10")
        vd = s.current_version_dir()
        small, _big = _binpack_classify(vd, 1000)
        assert len(small) == 1  # lone but masked -> selected
        before = s.read()
        nvd, stats = s.optimize_binpack(min_rows_per_file=1000)
        assert stats["n_rewritten"] == 1
        _assert_same(s.read(), before)
        # the small file's positions materialized; the big file's stay
        assert _dv_position_count(nvd) == 50

    def test_partition_scoped_pack(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark).repartition(3), partition_by=["grp"])
        vd = s.current_version_dir()
        before = s.read()
        # every partition dir has 3 small files; scope to grp=2 only
        nvd, stats = s.optimize_binpack(
            min_rows_per_file=1000, partition_values={"grp": 2}
        )
        assert stats["n_rewritten"] == 3
        # out-of-scope partitions linked verbatim
        for r, _n in _binpack_classify(nvd, 1)[1]:
            if "grp=2" not in r:
                src = os.path.join(vd, r)
                assert (
                    os.stat(src).st_ino
                    == os.stat(os.path.join(nvd, r)).st_ino
                )
        _assert_same(s.read(), before)

    def test_error_leaves_no_phantom_version(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark).coalesce(2))
        s.update_where("k % 100 = 0", {"val": "val + 1"})
        s.update_where("k % 100 = 1", {"val": "val + 1"})
        n_before = len(s.list_versions())
        import far_finer_airtable_firestore_sync_spark.sources.store as st

        orig = st.binpack_build

        def boom(*a, **kw):
            raise RuntimeError("injected")

        st.binpack_build = boom
        try:
            with pytest.raises(RuntimeError):
                s.optimize_binpack(min_rows_per_file=1000)
        finally:
            st.binpack_build = orig
        assert len(s.list_versions()) == n_before


class TestBinpackTxn:
    def test_rival_dml_replays_onto_packed_candidate(
        self, spark, tmp_root
    ):
        m = TransactionalParquetBackend(spark, tmp_root, "k", writer_id="m")
        r = TransactionalParquetBackend(spark, tmp_root, "k", writer_id="r")
        m.commit(_docs(spark).coalesce(2))
        m.update_where("k % 97 = 0", {"val": "val + 1"})
        m.update_where("k % 97 = 1", {"val": "val + 1"})

        def rival():
            r.delete_where("k % 11 = 0")

        h = m.optimize_binpack(min_rows_per_file=1000, test_hook=rival)
        assert h == "txn://5"
        _v, rec = m.latest()
        assert rec["op"]["kind"] == "optimize_binpack"
        want = (
            _docs(spark)
            .withColumn(
                "val",
                F.expr(
                    "val + case when k % 97 in (0, 1) then 1 else 0 end"
                ),
            )
            .filter("k % 11 <> 0")
        )
        _assert_same(m.read(), want)

    def test_rival_snapshot_forces_rebuild(self, spark, tmp_root):
        m = TransactionalParquetBackend(spark, tmp_root, "k", writer_id="m")
        r = TransactionalParquetBackend(spark, tmp_root, "k", writer_id="r")
        m.commit(_docs(spark).coalesce(2))
        m.update_where("k % 97 = 0", {"val": "val + 1"})
        m.update_where("k % 97 = 1", {"val": "val + 1"})
        extra = spark.range(10_000, 10_050).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            F.lit(0).cast("long").alias("val"),
        )

        def rival():
            r.commit_with(lambda cur: cur.unionByName(extra))

        h = m.optimize_binpack(min_rows_per_file=1000, test_hook=rival)
        assert h == "txn://5"
        want = (
            _docs(spark)
            .withColumn(
                "val",
                F.expr(
                    "val + case when k % 97 in (0, 1) then 1 else 0 end"
                ),
            )
            .unionByName(extra)
        )
        _assert_same(m.read(), want)

    def test_no_op_on_packed_head(self, spark, tmp_root):
        m = TransactionalParquetBackend(spark, tmp_root, "k")
        m.commit(_docs(spark).coalesce(1))
        h0 = m.current_version()
        assert m.optimize_binpack(min_rows_per_file=1000) == h0


# ---------------------------------------------------------------------------
# fused MERGE validation + schema evolution (r10 VERDICT wrong#1/missing#5)
# ---------------------------------------------------------------------------


class TestMergeRound11:
    def _seed(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 100))
        src = spark.range(50, 150).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") * 3).alias("val"),
            F.lit("n").alias("note"),
        )
        return s, src

    def test_new_source_column_rejected_without_flag(
        self, spark, tmp_root
    ):
        s, src = self._seed(spark, tmp_root)
        with pytest.raises(ValueError, match="schema_evolution"):
            s.merge_into(src)

    def test_schema_evolution_merge(self, spark, tmp_root):
        s, src = self._seed(spark, tmp_root)
        _out, counts = s.merge_into(
            src,
            when_matched_update={"val": "s.val", "note": "s.note"},
            when_matched_delete="s.k % 10 = 0",
            schema_evolution=True,
            cdf=True,
        )
        assert counts == {
            "updated": 45,
            "deleted": 5,
            "inserted": 50,
            "deleted_by_source": 0,
        }
        got = s.read()
        assert "note" in got.columns
        # pre-evolution rows read as typed NULL through the marker
        assert got.filter("k < 50 and note is not null").count() == 0
        assert got.filter("k >= 50 and note is null").count() == 0
        # chained DML can read the evolved column on the mixed version
        _d, n = s.delete_where("note = 'n' and k % 7 = 0")
        assert n > 0
        # time travel to the mixed version still footer-merges
        assert "note" in s.read_version(_out).columns

    def test_evolution_cdf_carries_new_column(self, spark, tmp_root):
        s, src = self._seed(spark, tmp_root)
        out, _counts = s.merge_into(
            src,
            when_matched_update={"val": "s.val", "note": "s.note"},
            schema_evolution=True,
            cdf=True,
        )
        feed = spark.read.parquet(os.path.join(out, "_changes"))
        assert {"note", "old_note"} <= set(feed.columns)
        upd = feed.filter("change_type = 'update'")
        assert upd.filter("note is null").count() == 0
        assert upd.filter("old_note is not null").count() == 0

    def test_merge_txn_marker(self, spark, tmp_root):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 100))
        src = _docs(spark, 100).withColumn("val", F.col("val") + 1)
        s.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            txn=("consumer", "3"),
        )
        assert s.last_txn("consumer") == "3"
        # a genuinely no-op merge (condition matches nothing) records
        # nothing — replaying a no-op is again a no-op
        s.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            update_condition="t.val <> s.val",
            when_not_matched_insert=False,
            txn=("consumer", "4"),
        )
        assert s.last_txn("consumer") == "3"

    def test_nbs_condition_not_captured_by_source_column(
        self, spark, tmp_root
    ):
        """The by-source condition references BARE target columns; a
        same-named source column must not capture it (the fused
        full-outer join puts both in scope)."""
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark, 100))
        # source val is always huge; target val < 60 for k < 30
        src = spark.range(0, 30).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            F.lit(10_000).cast("long").alias("val"),
        )
        _out, counts = s.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            when_not_matched_by_source_delete="val >= 100",
            when_not_matched_insert=False,
        )
        # target rows k in [50, 100) have val >= 100 -> deleted;
        # k in [30, 50) have val in [60, 100) -> kept
        assert counts["deleted_by_source"] == 50
        assert counts["updated"] == 30
        assert s.read().count() == 50

    def test_txn_backend_schema_evolution(self, spark, tmp_root):
        b = TransactionalParquetBackend(spark, tmp_root, "k")
        b.commit(_docs(spark, 100))
        src = spark.range(50, 150).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") * 3).alias("val"),
            F.lit("n").alias("note"),
        )
        _h, counts = b.merge_into(
            src,
            when_matched_update={"val": "s.val", "note": "s.note"},
            schema_evolution=True,
            cdf=True,
        )
        assert counts["updated"] == 50 and counts["inserted"] == 50
        got = b.read()
        assert got.filter("note is not null").count() == 100
        # rival-free CAS left one commit; feed carries evolved schema
        from far_finer_airtable_firestore_sync_spark.sources import (
            cdf_source,
        )

        if cdf_source.register_txn(spark):
            feed = (
                spark.read.format("store_cdf_txn")
                .option("path", tmp_root)
                .option("startingVersion", 2)
                .load()
            )
            assert "note" in feed.columns


def test_dv_masked_files_normalizes_paths(spark, tmp_root):
    s = DocumentStore(spark, tmp_root, "k")
    s.commit(_docs(spark).coalesce(2))
    s.delete_where("k % 10 = 0")
    vd = s.current_version_dir()
    masked = _dv_positions(vd)["file_path"].unique().to_pylist()
    assert masked  # both data files carry positions
    for rel in masked:
        assert not rel.startswith("/") and not rel.startswith("file:")
        assert os.path.exists(os.path.join(vd, rel))


# ---------------------------------------------------------------------------
# RESTORE + shallow clone on the lock-free log (r10 VERDICT #4)
# ---------------------------------------------------------------------------


class TestTxnRestoreClone:
    def _three_versions(self, spark, tmp_root):
        b = TransactionalParquetBackend(spark, tmp_root, "k")
        b.commit(_docs(spark, 500), cdf=True)
        b.commit_with(
            lambda cur: cur.withColumn(
                "val", F.expr("val + case when k % 3 = 0 then 7 else 0 end")
            ),
            cdf=True,
        )
        b.delete_where("k % 5 = 0", cdf=True)
        return b

    def test_restore_is_o1_metadata_and_append_only(
        self, spark, tmp_root
    ):
        b = self._three_versions(spark, tmp_root)
        v1 = b.read_version(1)
        h = b.restore(1)
        assert h == "txn://4"
        v, rec = b.latest()
        assert v == 4 and rec["op"] == {"kind": "restore", "to": 1}
        # zero data movement: the record points AT version 1's dir
        assert rec["version_dir"] == b._read_record(1)["version_dir"]
        _assert_same(b.read(), v1)
        # history stays append-only: the rolled-over versions remain
        _assert_same(b.read_version(3), b.read_version(3))

    def test_restore_cdf_emits_rollback_as_retractions(
        self, spark, tmp_root
    ):
        b = self._three_versions(spark, tmp_root)
        h = b.restore(1, cdf=True)
        assert h == "txn://4"
        from far_finer_airtable_firestore_sync_spark.sources import (
            cdf_source,
        )

        assert cdf_source.register_txn(spark)
        feed = (
            spark.read.format("store_cdf_txn")
            .option("path", tmp_root)
            .load()
        ).filter("commit_version = 4")
        # the rollback re-inserts the deleted rows and un-updates the
        # k%3 rows: only insert/update change types, never a hole
        assert feed.count() > 0
        kinds = {r["change_type"] for r in feed.select(
            "change_type").distinct().collect()}
        assert kinds <= {"insert", "update"}
        _assert_same(b.read(), b.read_version(1))

    def test_restore_racing_compaction_forces_rebuild(
        self, spark, tmp_root
    ):
        b = self._three_versions(spark, tmp_root)
        rival = TransactionalParquetBackend(
            spark, tmp_root, "k", writer_id="rv"
        )

        def mid_compact():
            rival.restore(1)

        h = b.compact(test_hook=mid_compact)
        assert h == "txn://5"
        _v, rec = b.latest()
        assert rec["op"]["kind"] == "compact"
        # the rebuild compacted the RESTORED state, not the old head
        _assert_same(b.read(), b.read_version(1))

    def test_restore_losing_cas_rederives_cdf(self, spark, tmp_root):
        b = self._three_versions(spark, tmp_root)
        rival = TransactionalParquetBackend(
            spark, tmp_root, "k", writer_id="rv"
        )

        def mid_restore():
            # cdf=True keeps the feed hole-free (the strict source
            # refuses a version without its sidecar)
            rival.update_where("k % 2 = 0", {"val": "val + 1000"}, cdf=True)

        h = b.restore(1, cdf=True, test_hook=mid_restore)
        assert h == "txn://5"
        _assert_same(b.read(), b.read_version(1))
        # the re-derived feed diffs against the RIVAL's head (v4):
        # every even k must appear as an update retracting +1000
        from far_finer_airtable_firestore_sync_spark.sources import (
            cdf_source,
        )

        assert cdf_source.register_txn(spark)
        feed = (
            spark.read.format("store_cdf_txn")
            .option("path", tmp_root)
            .load()
        ).filter("commit_version = 5 and k % 2 = 0")
        assert feed.filter("old_val >= 1000").count() > 0

    def test_vacuum_keeps_dir_shared_with_restore(self, spark, tmp_root):
        b = self._three_versions(spark, tmp_root)
        b.restore(1)  # v4 points at v1's dir
        removed = b.vacuum_versions(keep_last=2)  # keeps v3, v4
        # v1's dir is shared with retained v4 -> must survive
        assert os.path.isdir(
            os.path.join(tmp_root, b._read_record(1)["version_dir"])
        )
        _assert_same(b.read(), b.read_version(1))
        assert removed  # v2's dir did go

    def test_restore_unknown_or_vacuumed_fails_loudly(
        self, spark, tmp_root
    ):
        b = self._three_versions(spark, tmp_root)
        with pytest.raises(FileNotFoundError):
            b.restore(99)
        b.vacuum_versions(keep_last=1)
        with pytest.raises(ValueError, match="retention vacuum"):
            b.restore(2)

    def test_shallow_clone_txn(self, spark, tmp_root):
        b = self._three_versions(spark, tmp_root)
        dest_root = tmp_root + "_clone"
        try:
            clone = b.shallow_clone(dest_root)
            _assert_same(clone.read(), b.read())  # DV mask traveled
            v, rec = clone.latest()
            assert v == 1 and rec["op"]["kind"] == "clone"
            assert rec["txns"] == {}  # fresh replay domain
            # clone is a first-class store: commit + read back
            clone.delete_where("k % 7 = 0")
            assert clone.latest()[0] == 2
            # source unaffected
            assert b.read().filter("k % 7 = 0").count() > 0
        finally:
            shutil.rmtree(dest_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# delta-summary CDF commits (r10 VERDICT "what's wrong" #2 / next #3)
# ---------------------------------------------------------------------------


def _cdf_stream(spark, root):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source

    assert cdf_source.register(spark)
    return (
        spark.readStream.format("store_cdf").option("path", root).load()
    )


class TestDeltaSummaryCommits:
    def test_rollup_sync_writes_touched_groups_only(self, spark, tmp_root):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_rollup_sync,
        )

        src = DocumentStore(spark, os.path.join(tmp_root, "src"), "k")
        base = spark.createDataFrame(
            [(i, f"g{i % 4}", i * 10) for i in range(40)],
            "k long, grp string, val long",
        )
        src.commit(base, cdf=True)
        roll = DocumentStore(spark, os.path.join(tmp_root, "roll"), "grp")
        ck = os.path.join(tmp_root, "ck")
        stats: list = []

        def run_once():
            q = cdf_rollup_sync(
                _cdf_stream(spark, src.root), roll, ck,
                "grp", "n", {"s": "val"}, "droll", stats=stats,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()
        assert stats and stats[0].get("bootstrap")
        # DML touching EXACTLY one group (k%4=1 -> grp g1)
        src.update_where("k % 4 = 1", {"val": "val + 5"}, cdf=True)
        run_once()
        # the epoch's merge touched ONE group: one matched update
        last = stats[-1]
        assert last["updated"] == 1 and last["inserted"] == 0, last
        assert last["deleted"] == 0 and last["deleted_by_source"] == 0
        got = {tuple(r) for r in roll.read().collect()}
        want = {
            tuple(r)
            for r in src.read()
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
            .collect()
        }
        assert got == want

    def test_rollup_sync_vanished_group_takes_delete_clause(
        self, spark, tmp_root
    ):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_rollup_sync,
        )

        src = DocumentStore(spark, os.path.join(tmp_root, "src"), "k")
        base = spark.createDataFrame(
            [(i, f"g{i % 3}", i) for i in range(30)],
            "k long, grp string, val long",
        )
        src.commit(base, cdf=True)
        roll = DocumentStore(spark, os.path.join(tmp_root, "roll"), "grp")
        ck = os.path.join(tmp_root, "ck")
        stats: list = []

        def run_once():
            q = cdf_rollup_sync(
                _cdf_stream(spark, src.root), roll, ck,
                "grp", "n", {"s": "val"}, "vroll", stats=stats,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()
        src.delete_where("grp = 'g2'", cdf=True)  # whole group gone
        run_once()
        last = stats[-1]
        assert last["deleted"] == 1, last
        assert roll.read().filter("grp = 'g2'").count() == 0
        got = {tuple(r) for r in roll.read().collect()}
        want = {
            tuple(r)
            for r in src.read()
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
            .collect()
        }
        assert got == want

    @staticmethod
    def _null_group_source(spark, tmp_root):
        """20 rows; k % 4 = 0 (vals 0..160, max at k = 16) is the NULL
        group."""
        src = DocumentStore(spark, os.path.join(tmp_root, "src"), "k")
        src.commit(
            spark.createDataFrame(
                [
                    (i, None if i % 4 == 0 else f"g{i % 4}", i * 10)
                    for i in range(20)
                ],
                "k long, grp string, val long",
            ),
            cdf=True,
        )
        return src

    @staticmethod
    def _null_group_epochs(q, steps, summary, recompute) -> list:
        """One epoch per step; after each, the summary must equal the
        recompute. Returns whether each epoch left a NULL group."""
        has_null = []
        try:
            for name, step in steps:
                step()
                q.processAllAvailable()
                got = sorted(map(tuple, summary.read().collect()), key=repr)
                want = sorted(map(tuple, recompute().collect()), key=repr)
                assert got == want, (name, got, want)
                has_null.append(any(r[0] is None for r in got))
        finally:
            q.stop()
        return has_null

    def test_rollup_sync_maintains_the_null_group(self, spark, tmp_root):
        """A NULL group key is an ordinary group: a row enters it, one
        leaves it, then it empties, and the summary tracks each epoch."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_rollup_sync,
        )

        src = self._null_group_source(spark, tmp_root)
        roll = DocumentStore(spark, os.path.join(tmp_root, "roll"), "grp")
        q = cdf_rollup_sync(
            _cdf_stream(spark, src.root), roll,
            os.path.join(tmp_root, "ck"),
            "grp", "n", {"s": "val"}, "nullroll",
        )
        steps = [
            ("bootstrap", lambda: None),
            ("enter", lambda: src.update_where(
                "k = 1", {"grp": "cast(null as string)"}, cdf=True)),
            ("leave", lambda: src.update_where(
                "k = 4", {"grp": "'g2'"}, cdf=True)),
            ("empty", lambda: src.delete_where("grp is null", cdf=True)),
        ]
        has_null = self._null_group_epochs(
            q, steps, roll,
            lambda: src.read().groupBy("grp").agg(
                F.count("*").alias("n"), F.sum("val").alias("s")
            ),
        )
        assert has_null == [True, True, True, False]

    def test_extrema_sync_maintains_the_null_group(self, spark, tmp_root):
        """The extrema summary keeps a NULL group too, including the
        recompute leg when the NULL group's max is retracted."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_extrema_sync,
        )

        src = self._null_group_source(spark, tmp_root)
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "grp")
        q = cdf_extrema_sync(
            _cdf_stream(spark, src.root), src, summ,
            os.path.join(tmp_root, "ck"),
            "grp", "n", {"s": "val"}, {"mn": "val"}, {"mx": "val"},
            "nullxtr",
        )
        steps = [
            ("bootstrap", lambda: None),
            ("enter", lambda: src.update_where(
                "k = 1", {"grp": "cast(null as string)"}, cdf=True)),
            ("retract the max, leave", lambda: (
                src.delete_where("k = 16", cdf=True),
                src.update_where("k = 4", {"grp": "'g2'"}, cdf=True),
            )),
            ("empty", lambda: src.delete_where("grp is null", cdf=True)),
        ]
        has_null = self._null_group_epochs(
            q, steps, summ,
            lambda: src.read().groupBy("grp").agg(
                F.count("*").alias("n"),
                F.sum("val").alias("s"),
                F.min("val").alias("mn"),
                F.max("val").alias("mx"),
            ),
        )
        assert has_null == [True, True, True, False]

    def test_join_sync_summary_keeps_a_null_dimension_group(
        self, spark, tmp_root
    ):
        """A join summary grouped on a dimension attribute that is NULL
        for some dimension rows keeps that NULL group, and the view
        stays equal to the recompute."""
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_join_sync,
        )

        fact = DocumentStore(spark, os.path.join(tmp_root, "fact"), "k")
        dim = DocumentStore(spark, os.path.join(tmp_root, "dim"), "d")
        dim.commit(
            spark.createDataFrame(
                [(i, None if i == 0 else f"seg{i % 3}") for i in range(10)],
                "d long, seg string",
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
        view = DocumentStore(spark, os.path.join(tmp_root, "view"), "k")
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "seg")
        cols = ["k", "dk", "amt", "seg"]
        q = cdf_join_sync(
            _cdf_stream(spark, fact.root), _cdf_stream(spark, dim.root),
            fact, dim, view, summ, os.path.join(tmp_root, "ck"),
            fact_key="k", dim_fk="dk", dim_key="d", view_cols=cols,
            group_col="seg", count_col="n", sum_map={"s": "amt"},
            query_name="nulljoin",
        )

        def recompute_view():
            f, d = fact.read().alias("f"), dim.read().alias("d")
            return f.join(d, F.col("f.dk") == F.col("d.d")).select(*cols)

        views_equal = []

        def recompute_summary():
            views_equal.append(
                sorted(view.read().select(*cols).collect())
                == sorted(recompute_view().collect())
            )
            return recompute_view().groupBy("seg").agg(
                F.count("*").alias("n"), F.sum("amt").alias("s")
            )

        steps = [
            ("bootstrap", lambda: None),
            ("enter", lambda: dim.update_where(
                "d = 1", {"seg": "cast(null as string)"}, cdf=True)),
            ("leave", lambda: fact.update_where(
                "k = 10", {"dk": "5"}, cdf=True)),
            ("empty", lambda: dim.update_where(
                "seg is null", {"seg": "'segZ'"}, cdf=True)),
        ]
        has_null = self._null_group_epochs(
            q, steps, summ, recompute_summary
        )
        assert has_null == [True, True, True, False]
        assert views_equal == [True] * 4

    def test_extrema_sync_writes_touched_groups_only(self, spark, tmp_root):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_extrema_sync,
        )

        src = DocumentStore(spark, os.path.join(tmp_root, "src"), "k")
        base = spark.createDataFrame(
            [(i, f"g{i % 4}", i * 10) for i in range(40)],
            "k long, grp string, val long",
        )
        src.commit(base, cdf=True)
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "grp")
        ck = os.path.join(tmp_root, "ck")
        stats: list = []

        def run_once():
            q = cdf_extrema_sync(
                _cdf_stream(spark, src.root), src, summ, ck,
                "grp", "n", {"s": "val"}, {"mn": "val"}, {"mx": "val"},
                "dxtr", stats=stats,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()
        assert stats and stats[0].get("bootstrap")
        # retract g3's max (k=39 -> val 390) and delete ALL of g2:
        # touched groups = {g3, g2}; untouched g0/g1 stay linked
        src.delete_where("k = 39 or k % 4 = 2", cdf=True)
        run_once()
        last = stats[-1]
        assert last["updated"] == 1 and last["deleted"] == 1, last
        got = {tuple(r) for r in summ.read().collect()}
        want = {
            tuple(r)
            for r in src.read()
            .groupBy("grp")
            .agg(
                F.count("*").alias("n"),
                F.sum("val").alias("s"),
                F.min("val").alias("mn"),
                F.max("val").alias("mx"),
            )
            .collect()
        }
        assert got == want


# ---------------------------------------------------------------------------
# two-feed streaming-maintained JOIN view (r10 VERDICT next #2)
# ---------------------------------------------------------------------------


class TestCdfJoinSync:
    def _setup(self, spark, tmp_root):
        fact = DocumentStore(spark, os.path.join(tmp_root, "fact"), "k")
        dim = DocumentStore(spark, os.path.join(tmp_root, "dim"), "d")
        dim.commit(
            spark.createDataFrame(
                [(i, f"seg{i % 3}") for i in range(10)],
                "d long, seg string",
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
        view = DocumentStore(spark, os.path.join(tmp_root, "view"), "k")
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "seg")
        return fact, dim, view, summ

    def _run(self, spark, tmp_root, fact, dim, view, summ, stats):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_join_sync,
        )

        q = cdf_join_sync(
            _cdf_stream(spark, fact.root),
            _cdf_stream(spark, dim.root),
            fact, dim, view, summ,
            os.path.join(tmp_root, "ck"),
            fact_key="k", dim_fk="dk", dim_key="d",
            view_cols=["k", "dk", "amt", "seg"],
            group_col="seg", count_col="n", sum_map={"s": "amt"},
            query_name="jsync", stats=stats,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def _expect(self, fact, dim):
        f, d = fact.read().alias("f"), dim.read().alias("d")
        viewx = f.join(d, F.col("f.dk") == F.col("d.d")).select(
            "k", "dk", "amt", "seg"
        )
        summx = viewx.groupBy("seg").agg(
            F.count("*").alias("n"), F.sum("amt").alias("s")
        )
        return viewx, summx

    def test_maintains_join_view_and_rollup_across_restart(
        self, spark, tmp_root
    ):
        fact, dim, view, summ = self._setup(spark, tmp_root)
        stats: list = []
        self._run(spark, tmp_root, fact, dim, view, summ, stats)
        viewx, summx = self._expect(fact, dim)
        _assert_same(view.read(), viewx)
        _assert_same(summ.read(), summx)

        # while the consumer is DOWN: a dimension FK move (d=4 changes
        # segment), a fact amount update, a fact delete, a fact insert
        # pointing at the moved dim row
        dim.update_where("d = 4", {"seg": "'segX'"}, cdf=True)
        fact.update_where("k % 20 = 3", {"amt": "amt + 7"}, cdf=True)
        fact.delete_where("k = 50", cdf=True)
        fact.merge_into(
            spark.createDataFrame(
                [(1000, 4, 12345)], "k long, dk long, amt long"
            ),
            when_matched_update={"amt": "s.amt"},
            when_not_matched_insert=True,
            cdf=True,
        )
        self._run(spark, tmp_root, fact, dim, view, summ, stats)
        viewx, summx = self._expect(fact, dim)
        _assert_same(view.read(), viewx)
        _assert_same(summ.read(), summx)
        # O(touched) writes: the last epoch's view merge touched only
        # the affected fact keys (6 for d=4's FK move + 3 updates +
        # 1 delete + 1 insert = 11), never the other ~49 view rows
        last_view = stats[-1]["view"]
        touched = sum(
            v for kk, v in last_view.items() if isinstance(v, int)
        )
        assert 0 < touched <= 12, stats[-1]

        # exactly-once: a third run with nothing new commits nothing
        nv, ns = len(view.list_versions()), len(summ.list_versions())
        self._run(spark, tmp_root, fact, dim, view, summ, stats)
        assert len(view.list_versions()) == nv
        assert len(summ.list_versions()) == ns
        _assert_same(view.read(), viewx)

    def test_rejects_colliding_payload_columns(self, spark, tmp_root):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_join_sync,
        )

        fact = DocumentStore(spark, os.path.join(tmp_root, "f2"), "k")
        dim = DocumentStore(spark, os.path.join(tmp_root, "d2"), "k")
        fact.commit(
            spark.createDataFrame([(1, 2)], "k long, v long"), cdf=True
        )
        dim.commit(
            spark.createDataFrame([(2, 3)], "k long, w long"), cdf=True
        )
        with pytest.raises(ValueError, match="collide"):
            cdf_join_sync(
                _cdf_stream(spark, fact.root),
                _cdf_stream(spark, dim.root),
                fact, dim,
                DocumentStore(spark, os.path.join(tmp_root, "v2"), "k"),
                DocumentStore(spark, os.path.join(tmp_root, "s2"), "g"),
                os.path.join(tmp_root, "ck2"),
                fact_key="k", dim_fk="k", dim_key="k",
                view_cols=["k"], group_col="g", count_col="n",
                sum_map={},
            )


# ---------------------------------------------------------------------------
# hole-free change feed across single-writer maintenance (round 11)
# ---------------------------------------------------------------------------


class TestMaintenanceCdf:
    def test_feed_crosses_compact_and_binpack_without_hole(
        self, spark, tmp_root
    ):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_rollup_sync,
        )

        src = DocumentStore(spark, os.path.join(tmp_root, "src"), "k")
        src.commit(_docs(spark, 1000), cdf=True)
        roll = DocumentStore(spark, os.path.join(tmp_root, "roll"), "grp")
        ck = os.path.join(tmp_root, "ck")

        def run_once():
            q = cdf_rollup_sync(
                _cdf_stream(spark, src.root), roll, ck,
                "grp", "n", {"s": "val"}, "mroll",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()
        # maintenance + DML land while the consumer is DOWN; the
        # restart batch spans BOTH — the maintenance versions must
        # contribute zero changes, not a hole
        src.update_where("k % 100 = 0", {"val": "val + 1"}, cdf=True)
        src.optimize_binpack(min_rows_per_file=100, cdf=True)
        src.delete_where("k % 7 = 0", cdf=True)
        src.compact(cdf=True)
        run_once()
        got = {tuple(r) for r in roll.read().collect()}
        want = {
            tuple(r)
            for r in src.read()
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
            .collect()
        }
        assert got == want

    def test_maintenance_without_cdf_still_fails_loudly(
        self, spark, tmp_root
    ):
        src = DocumentStore(spark, os.path.join(tmp_root, "s3"), "k")
        src.commit(_docs(spark, 200), cdf=True)
        src.compact()  # no sidecar: a genuine hole
        src.delete_where("k % 5 = 0", cdf=True)
        from far_finer_airtable_firestore_sync_spark.sources import (
            cdf_source,
        )

        assert cdf_source.register(spark)
        with pytest.raises(Exception, match="without cdf=True"):
            (
                spark.read.format("store_cdf")
                .option("path", src.root)
                .load()
                .count()
            )

    def test_zorder_cdf_writes_empty_sidecar(self, spark, tmp_root):
        src = DocumentStore(spark, os.path.join(tmp_root, "s4"), "k")
        src.commit(_docs(spark, 500), cdf=True)
        out = src.optimize_zorder("k", "val", n_files=2, cdf=True)
        ch = os.path.join(out, "_changes")
        assert os.path.isdir(ch)
        df = spark.read.parquet(ch)
        assert df.count() == 0
        assert "change_type" in df.columns and "old_val" in df.columns


# ---------------------------------------------------------------------------
# pipeline auto-OPTIMIZE policy (round 11)
# ---------------------------------------------------------------------------


class TestPipelineAutoOptimize:
    def _pipeline(self, spark, store):
        from far_finer_airtable_firestore_sync_spark.config import (
            Field,
            SyncSpec,
            UpdateType,
        )
        from far_finer_airtable_firestore_sync_spark.plans.pipeline import (
            SyncPipeline,
        )

        spec = SyncSpec(
            primary_key="k",
            update_type=UpdateType.UPSERT_CHECKSUM,
            payload_fields=(
                Field("k", "string"),
                Field("grp", "long"),
                Field("val", "long"),
            ),
            table_name="t",
        )
        return SyncPipeline(spec, store, dedup_order_col=None)

    def test_hook_packs_accumulated_debt_and_converges(
        self, spark, tmp_root
    ):
        store = DocumentStore(spark, tmp_root, "k")
        pipe = self._pipeline(spark, store)
        policy = {"min_rows_per_file": 500, "trigger_small_files": 3}
        store.commit(_docs(spark, 3000).coalesce(1))
        # two DML appends: debt below the trigger -> hook stays quiet
        store.update_where("k % 97 = 0", {"val": "val + 1"})
        store.update_where("k % 97 = 1", {"val": "val + 1"})
        n_versions = len(store.list_versions())
        m = pipe._maybe_optimize(policy)
        assert m == {"triggered": False, "small_files": 2}
        assert len(store.list_versions()) == n_versions
        # a third sliver crosses the trigger -> one pack, converged
        store.update_where("k % 97 = 2", {"val": "val + 1"})
        before = store.read()
        m = pipe._maybe_optimize(policy)
        assert m["triggered"] and m["n_rewritten"] == 3, m
        _assert_same(store.read(), before)
        m = pipe._maybe_optimize(policy)  # fixed point: quiet again
        assert not m["triggered"], m

    def test_hook_on_transactional_backend(self, spark, tmp_root):
        b = TransactionalParquetBackend(spark, tmp_root, "k")
        pipe = self._pipeline(spark, b)
        policy = {"min_rows_per_file": 500, "trigger_small_files": 2}
        b.commit(_docs(spark, 3000).coalesce(1))
        b.update_where("k % 97 = 0", {"val": "val + 1"})
        b.update_where("k % 97 = 1", {"val": "val + 1"})
        before = b.read()
        m = pipe._maybe_optimize(policy)
        assert m["triggered"], m
        _v, rec = b.latest()
        assert rec["op"]["kind"] == "optimize_binpack"
        _assert_same(b.read(), before)

    def test_run_carries_optimize_metrics(self, spark, tmp_root):
        store = DocumentStore(spark, tmp_root, "k")
        pipe = self._pipeline(spark, store)
        base = _docs(spark, 500).withColumn("k", F.col("k").cast("string"))
        r = pipe.run(base, optimize_policy={"trigger_small_files": 3})
        assert "optimize" in r.metrics
        assert r.metrics["optimize"]["triggered"] in (True, False)
        assert store.read().count() == 500


# ---------------------------------------------------------------------------
# N-dim star consumer + chained view CDF (round 11, second wave)
# ---------------------------------------------------------------------------


class TestCdfStarSync:
    def test_two_dim_star_across_restart(self, spark, tmp_root):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_star_sync,
        )

        fact = DocumentStore(spark, os.path.join(tmp_root, "fact"), "k")
        da = DocumentStore(spark, os.path.join(tmp_root, "da"), "a")
        db = DocumentStore(spark, os.path.join(tmp_root, "db"), "b")
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
                [(i, i % 6, i % 9, i * 10) for i in range(60)],
                "k long, fa long, fb long, amt long",
            ),
            cdf=True,
        )
        view = DocumentStore(spark, os.path.join(tmp_root, "view"), "k")
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "aseg")
        stats: list = []

        def run_once():
            q = cdf_star_sync(
                _cdf_stream(spark, fact.root),
                [_cdf_stream(spark, da.root), _cdf_stream(spark, db.root)],
                fact, [da, db], view, summ,
                os.path.join(tmp_root, "ck"),
                fact_key="k", dim_fks=["fa", "fb"], dim_keys=["a", "b"],
                view_cols=["k", "fa", "fb", "amt", "aseg", "bseg"],
                group_col="aseg", count_col="n", sum_map={"s": "amt"},
                query_name="star", stats=stats,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def expected():
            f = fact.read().alias("f")
            va = da.read().alias("da")
            vb = db.read().alias("db")
            vx = (
                f.join(va, F.col("f.fa") == F.col("da.a"))
                .join(vb, F.col("f.fb") == F.col("db.b"))
                .select("k", "fa", "fb", "amt", "aseg", "bseg")
            )
            sx = vx.groupBy("aseg").agg(
                F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s")
            )
            return vx, sx

        run_once()
        vx, sx = expected()
        _assert_same(view.read(), vx)
        _assert_same(summ.read(), sx)
        # while down: BOTH dims move, fact delete + update + insert
        da.update_where("a = 2", {"aseg": "'AX'"}, cdf=True)
        db.update_where("b = 4", {"bseg": "'BX'"}, cdf=True)
        fact.delete_where("k % 10 = 9", cdf=True)
        fact.update_where("k % 15 = 1", {"amt": "amt + 5"}, cdf=True)
        fact.merge_into(
            spark.createDataFrame(
                [(1000, 2, 4, 77)], "k long, fa long, fb long, amt long"
            ),
            when_not_matched_insert=True,
            cdf=True,
        )
        run_once()
        vx, sx = expected()
        _assert_same(view.read(), vx)
        _assert_same(summ.read(), sx)
        # touched bound: affected = fa=2 rows (10) + fb=4 rows (~7,
        # overlapping) + deletes (6) + updates (4) + insert (1)
        vc = stats[-1]["view"]
        touched = sum(v for v in vc.values() if isinstance(v, int))
        assert 0 < touched <= 30, stats[-1]
        # idle run commits nothing on either store
        nv, ns = len(view.list_versions()), len(summ.list_versions())
        run_once()
        assert len(view.list_versions()) == nv
        assert len(summ.list_versions()) == ns

    def test_chained_view_feed_drives_second_tier(self, spark, tmp_root):
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_join_sync,
            cdf_rollup_sync,
        )

        fact = DocumentStore(spark, os.path.join(tmp_root, "fact"), "k")
        dim = DocumentStore(spark, os.path.join(tmp_root, "dim"), "d")
        dim.commit(
            spark.createDataFrame(
                [(i, f"g{i % 3}") for i in range(9)], "d long, seg string"
            ),
            cdf=True,
        )
        fact.commit(
            spark.createDataFrame(
                [(i, i % 9, i) for i in range(45)],
                "k long, dk long, amt long",
            ),
            cdf=True,
        )
        view = DocumentStore(spark, os.path.join(tmp_root, "view"), "k")
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "seg")
        tier2 = DocumentStore(spark, os.path.join(tmp_root, "t2"), "dk")

        def run_tier1():
            q = cdf_join_sync(
                _cdf_stream(spark, fact.root),
                _cdf_stream(spark, dim.root),
                fact, dim, view, summ,
                os.path.join(tmp_root, "ck1"),
                fact_key="k", dim_fk="dk", dim_key="d",
                view_cols=["k", "dk", "amt", "seg"],
                group_col="seg", count_col="n", sum_map={"s": "amt"},
                query_name="t1", view_cdf=True,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def run_tier2():
            # second-tier consumer tails the VIEW's own change feed,
            # grouping by a DIFFERENT column than tier 1's summary
            q = cdf_rollup_sync(
                _cdf_stream(spark, view.root), tier2,
                os.path.join(tmp_root, "ck2"),
                "dk", "n", {"s": "amt"}, "t2",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_tier1()
        run_tier2()
        got = {tuple(r) for r in tier2.read().collect()}
        want = {
            tuple(r)
            for r in view.read()
            .groupBy("dk")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
            .collect()
        }
        assert got == want
        # upstream DML while BOTH tiers are down: tier 1 refresh emits
        # the view's own CDC; tier 2 folds it
        dim.update_where("d = 4", {"seg": "'gX'"}, cdf=True)
        fact.delete_where("dk = 7", cdf=True)  # whole dk group leaves
        run_tier1()
        run_tier2()
        got = {tuple(r) for r in tier2.read().collect()}
        want = {
            tuple(r)
            for r in view.read()
            .groupBy("dk")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
            .collect()
        }
        assert got == want
        assert tier2.read().filter("dk = 7").count() == 0


class TestCdfJoinTxnFeeds:
    def test_join_sync_pins_by_log_version_on_txn_feeds(
        self, spark, tmp_root
    ):
        """Both upstreams are lock-free logs tailed via store_cdf_txn:
        the consumer must pin its recompute legs by LOG VERSION (the
        feeds carry commit_version), telescope by it, and survive a
        mid-range maintenance commit the feed skips."""
        from far_finer_airtable_firestore_sync_spark.sources import (
            cdf_source,
        )
        from far_finer_airtable_firestore_sync_spark.streaming.sync import (
            cdf_join_sync,
        )

        assert cdf_source.register_txn(spark)
        fact = TransactionalParquetBackend(
            spark, os.path.join(tmp_root, "fact"), "k"
        )
        dim = TransactionalParquetBackend(
            spark, os.path.join(tmp_root, "dim"), "d"
        )
        dim.commit(
            spark.createDataFrame(
                [(i, f"s{i % 3}") for i in range(8)], "d long, seg string"
            ),
            cdf=True,
        )
        fact.commit(
            spark.createDataFrame(
                [(i, i % 8, i * 3) for i in range(48)],
                "k long, dk long, amt long",
            ),
            cdf=True,
        )
        view = DocumentStore(spark, os.path.join(tmp_root, "view"), "k")
        summ = DocumentStore(spark, os.path.join(tmp_root, "summ"), "seg")

        def feed(root):
            return (
                spark.readStream.format("store_cdf_txn")
                .option("path", root)
                .load()
            )

        def run_once():
            q = cdf_join_sync(
                feed(fact.root), feed(dim.root),
                fact, dim, view, summ,
                os.path.join(tmp_root, "ck"),
                fact_key="k", dim_fk="dk", dim_key="d",
                view_cols=["k", "dk", "amt", "seg"],
                group_col="seg", count_col="n", sum_map={"s": "amt"},
                query_name="txnjoin",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def expected():
            f, d = fact.read().alias("f"), dim.read().alias("d")
            return f.join(d, F.col("f.dk") == F.col("d.d")).select(
                "k", "dk", "amt", "seg"
            )

        run_once()
        _assert_same(view.read(), expected())
        # while down: chained double-update on the same keys (the
        # version-order telescoping path), a dim move, AND a fact
        # compact mid-range (the feed skips it; the pin must too)
        fact.update_where("k % 6 = 0", {"amt": "amt + 10"}, cdf=True)
        fact.compact()  # maintenance: skipped by the txn feed
        fact.update_where("k % 12 = 0", {"amt": "amt + 100"}, cdf=True)
        dim.update_where("d = 5", {"seg": "'sX'"}, cdf=True)
        fact.delete_where("k % 11 = 3", cdf=True)
        run_once()
        _assert_same(view.read(), expected())
        got = {tuple(r) for r in summ.read().collect()}
        want = {
            tuple(r)
            for r in expected()
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
            .collect()
        }
        assert got == want


# ---------------------------------------------------------------------------
# one-pass DML (optimization round 11): positions-form deletion vectors
# ---------------------------------------------------------------------------


class TestOnePassDml:
    def test_positions_form_equals_predicate_form(self, spark, tmp_root):
        from far_finer_airtable_firestore_sync_spark.sources.store import (
            _POS_FP,
            _POS_RI,
            _masked_scan,
            write_deletion_vectors,
        )

        a = DocumentStore(spark, os.path.join(tmp_root, "a"), "k")
        b = DocumentStore(spark, os.path.join(tmp_root, "b"), "k")
        df = _docs(spark).coalesce(3)
        a.commit(df)
        b.commit(df)
        # predicate form on a, positions form on b — identical mask
        va, _ = a.delete_where("k % 7 = 0")
        vb_dir = b.current_version_dir()
        pos = _masked_scan(spark, vb_dir, positions=True).filter(
            "k % 7 = 0"
        ).select(_POS_FP, _POS_RI)
        n = write_deletion_vectors(spark, vb_dir, positions=pos)
        assert n == _dv_position_count(va)
        _assert_same(a.read(), b.read())

    def test_update_where_one_pass_accumulates_over_prior_mask(
        self, spark, tmp_root
    ):
        s = DocumentStore(spark, tmp_root, "k")
        s.commit(_docs(spark))
        s.delete_where("k % 10 = 0", cdf=True)  # prior mask
        # the update must not resurrect deleted rows and must merge
        # its positions with the inherited mask
        vd, n = s.update_where("k % 5 = 0", {"val": "val + 7"}, cdf=True)
        want = _docs(spark).filter("k % 10 <> 0").withColumn(
            "val",
            F.expr("case when k % 5 = 0 then val + 7 else val end"),
        )
        _assert_same(s.read(), want)
        # exactly the visible matches counted (k%5 minus masked k%10)
        assert n == 2000 // 5 - 2000 // 10
        # CDF sidecar rows == the same visible matches, update-typed
        ch = spark.read.parquet(os.path.join(vd, "_changes"))
        assert ch.count() == n
        assert ch.select("change_type").distinct().collect()[0][0] == "update"

    def test_merge_masks_null_key_nbs_delete_via_positions(
        self, spark, tmp_root
    ):
        # a NULL-keyed target row selected by the by-source clause
        # must actually mask (the eqNullSafe case of the old key-set
        # semi-join, now covered positionally)
        s = DocumentStore(spark, tmp_root, "k")
        base = spark.createDataFrame(
            [(1, 10), (2, 20), (None, 99)], "k bigint, val bigint"
        )
        s.commit(base)
        src = spark.createDataFrame([(1, 11)], "k bigint, val bigint")
        _vd, counts = s.merge_into(
            src,
            when_matched_update={"val": "s.val"},
            when_not_matched_insert=True,
            when_not_matched_by_source_delete="true",
        )
        assert counts == {
            "updated": 1, "deleted": 0, "inserted": 0,
            "deleted_by_source": 2,
        }
        _assert_same(
            s.read(),
            spark.createDataFrame([(1, 11)], "k bigint, val bigint"),
        )

    def test_txn_one_pass_dml_and_merge(self, spark, tmp_root):
        be = TransactionalParquetBackend(spark, tmp_root, "k", writer_id="w1")
        be.commit(_docs(spark), cdf=True)
        be.delete_where("k % 9 = 0", cdf=True)
        be.update_where("k % 4 = 1", {"val": "val + 3"}, cdf=True)
        src = spark.range(0, 50).select(
            (F.col("id") + 10_000).alias("k"),
            F.lit(1).cast("bigint").alias("grp"),
            F.lit(0).cast("bigint").alias("val"),
        )
        be.merge_into(src, when_matched_update={"val": "s.val"}, cdf=True)
        want = _docs(spark).filter("k % 9 <> 0").withColumn(
            "val",
            F.expr("case when k % 4 = 1 then val + 3 else val end"),
        ).unionByName(src)
        _assert_same(be.read(), want)


# ---------------------------------------------------------------------------
# multiplexed change-feed source (optimization round 11)
# ---------------------------------------------------------------------------


class TestMuxCdfSource:
    def test_mux_equals_separate_union_and_resumes_per_feed(
        self, spark, tmp_root
    ):
        from far_finer_airtable_firestore_sync_spark.sources import (
            cdf_source,
        )

        assert cdf_source.register(spark)
        ra, rb = os.path.join(tmp_root, "a"), os.path.join(tmp_root, "b")
        ck = os.path.join(tmp_root, "ck")
        a = DocumentStore(spark, ra, "k")
        b = DocumentStore(spark, rb, "d")
        a.commit(
            spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("va")
            ),
            cdf=True,
        )
        b.commit(
            spark.range(3).select(
                F.col("id").alias("d"), F.lit("x").alias("vb")
            ),
            cdf=True,
        )
        seen: list = []

        def run():
            tagged, fcols = cdf_source.load_feeds(
                spark, [ra, rb], ["fact", "dim0"]
            )
            assert fcols[0] == [
                "k", "change_type", "va", "old_va", "commit_ms"
            ]
            q = (
                tagged.writeStream.foreachBatch(
                    lambda df, e: seen.append(
                        {
                            (r["_ffs_feed"], r["change_type"],
                             r["k"], r["d"], r["va"], r["vb"])
                            for r in df.collect()
                        }
                    )
                )
                .option("checkpointLocation", ck)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run()  # batch 1: both feeds' initial commits
        assert len(seen) == 1
        want1 = {
            ("fact", "insert", i, None, i * 2, None) for i in range(10)
        } | {("dim0", "insert", None, i, None, "x") for i in range(3)}
        assert seen[0] == want1
        # while down: only feed A moves — the restart must replay
        # ONLY A's new version (per-feed offsets)
        a.update_where("k = 4", {"va": "va + 1"}, cdf=True)
        run()
        assert len(seen) == 2
        assert seen[1] == {("fact", "update", 4, None, 9, None)}
        run()  # idle: no new versions anywhere -> no batch at all
        assert len(seen) == 2
