"""Round-10 operators: maintenance on the lock-free multi-writer
backend (compaction / OPTIMIZE ZORDER with rival reconciliation),
hardened view fingerprints, and DML failure-cleanup guards."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.sources.backends import (
    TransactionalParquetBackend,
)
from far_finer_airtable_firestore_sync_spark.sources.store import (
    DocumentStore,
    _dv_position_count,
)


def _mk_backend(spark, tmp_path, name, writer="w1"):
    return TransactionalParquetBackend(
        spark, str(tmp_path / name), "k", writer_id=writer
    )


def _seed(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 10).alias("val"),
    )


# -- the single CAS publish: lost-reply disambiguation -----------------------


class _LostReplyOs:
    """``os`` as the backend module sees it, except that the first
    ``link`` performs the link and then raises FileExistsError — an NFS
    retransmit whose first reply was lost."""

    def __init__(self):
        self.fired = False

    def __getattr__(self, name):
        return getattr(os, name)

    def link(self, src, dst):
        os.link(src, dst)
        if not self.fired:
            self.fired = True
            raise FileExistsError(dst)


_LOST_REPLY_OPS = {
    "commit": lambda b, spark: b.commit(_seed(spark, 12)),
    "delete_where": lambda b, spark: b.delete_where("grp = 1")[0],
    "update_where": lambda b, spark: b.update_where(
        "grp = 2", {"val": "val + 1"}
    )[0],
    "merge_into": lambda b, spark: b.merge_into(
        _seed(spark, 12).filter("k >= 8"),
        when_matched_update={"val": "s.val + 1"},
    )[0],
    "restore_cdf": lambda b, spark: b.restore(1, cdf=True),
    "compact": lambda b, spark: b.compact(),
}


@pytest.mark.parametrize("op", sorted(_LOST_REPLY_OPS))
def test_txn_publish_lost_reply_is_a_win(spark, tmp_path, monkeypatch, op):
    """A link that succeeded but reported EEXIST is recognised by the
    scratch record's link count: the op publishes exactly one version,
    returns its handle and keeps its data directory."""
    from far_finer_airtable_firestore_sync_spark.sources import backends

    b = _mk_backend(spark, tmp_path, "lost_reply")
    b.commit(_seed(spark, 10))
    b.commit(_seed(spark, 10).filter("k < 9"))  # restore(1) has a target
    head = b.latest()[0]
    fake = _LostReplyOs()
    monkeypatch.setattr(backends, "os", fake)
    handle = _LOST_REPLY_OPS[op](b, spark)
    monkeypatch.undo()
    assert fake.fired
    assert handle == f"txn://{head + 1}"
    assert b.latest()[0] == head + 1
    rec = b._read_record(head + 1)
    assert os.path.isdir(os.path.join(b.root, rec["version_dir"]))
    assert b.read().count() > 0


# -- compaction on the lock-free log -----------------------------------------


def test_txn_compact_materializes_dv_and_right_sizes(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "c1")
    b.commit(_seed(spark).repartition(8))
    b.delete_where("grp = 2")
    handle = b.compact(target_rows_per_file=1_000_000)
    assert handle == "txn://3"
    v, rec = b.latest()
    assert v == 3 and rec["op"]["kind"] == "compact"
    vd = os.path.join(b.root, rec["version_dir"])
    # deletes materialized: no sidecar, one right-sized file
    assert _dv_position_count(vd) == 0
    files = [f for f in os.listdir(vd) if f.endswith(".parquet")]
    assert len(files) == 1
    got = {r["k"] for r in b.read().collect()}
    assert got == {i for i in range(40) if i % 5 != 2}


def test_txn_compact_replays_rival_delete(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "c2")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    b.commit(_seed(spark).repartition(8))

    def hook():
        # lands AFTER the candidate is written, BEFORE its publish:
        # the compaction must reconcile, not lose this delete
        rival.delete_where("grp = 1")

    handle = b.compact(target_rows_per_file=1_000_000, test_hook=hook)
    assert handle == "txn://3"  # rival owns 2, reconciled compact owns 3
    _v, rec = b.latest()
    assert rec["op"]["kind"] == "compact"
    got = {r["k"] for r in b.read().collect()}
    assert got == {i for i in range(40) if i % 5 != 1}
    # the replay masked the compacted candidate positionally
    vd = os.path.join(b.root, rec["version_dir"])
    assert _dv_position_count(vd) == 8


def test_txn_compact_replays_rival_update(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "c3")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    b.commit(_seed(spark).repartition(8))

    def hook():
        rival.update_where("grp = 3", {"val": "val + 1000"})

    b.compact(target_rows_per_file=1_000_000, test_hook=hook)
    got = {(r["k"], r["val"]) for r in b.read().collect()}
    want = {
        (i, i * 10 + (1000 if i % 5 == 3 else 0)) for i in range(40)
    }
    assert got == want


def test_txn_compact_rebuilds_on_rival_snapshot(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "c4")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    b.commit(_seed(spark).repartition(8))
    extra = spark.createDataFrame(
        [Row(k=100, grp=0, val=-1)], "k long, grp long, val long"
    )

    def hook():
        # snapshot commit: whole-state replace — NOT replayable; the
        # compaction must discard its candidate and rebuild
        rival.commit_with(
            lambda cur: extra if cur is None else cur.unionByName(extra)
        )

    b.compact(target_rows_per_file=1_000_000, test_hook=hook)
    _v, rec = b.latest()
    assert rec["op"]["kind"] == "compact"
    got = {r["k"] for r in b.read().collect()}
    assert got == set(range(40)) | {100}
    # rebuilt candidate: the discarded first candidate must be gone
    data_dirs = [
        d for d in os.listdir(b.root) if d.startswith("v-")
    ]
    referenced = {
        b._read_record(v)["version_dir"] for v in (1, 2, 3)
    }
    assert set(data_dirs) == referenced


def test_txn_compact_budget_exhaustion_raises_and_cleans(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        ConcurrentCommitError,
    )

    b = _mk_backend(spark, tmp_path, "c5")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    b.commit(_seed(spark, 10))

    # every publish attempt finds a fresh snapshot rival: with the
    # budget at 1 attempt the loop must raise, leaving no orphan dirs
    real_link = os.link
    state = {"n": 0}

    def racing_link(src, dst):
        if "/_log/" in dst.replace(os.sep, "/") and not os.path.basename(
            dst
        ).startswith("_"):
            state["n"] += 1
            if state["n"] == 1:
                rival.commit_with(
                    lambda cur: cur.withColumn("val", F.col("val") + 1)
                )
        return real_link(src, dst)

    import far_finer_airtable_firestore_sync_spark.sources.backends as bk

    # inject the race at the put-if-absent itself via monkeypatching
    # os.link seen by the backend module
    orig = os.link
    try:
        os.link = racing_link
        with pytest.raises(ConcurrentCommitError):
            b.compact(max_retries=0)
    finally:
        os.link = orig
    referenced = {
        b._read_record(v)["version_dir"]
        for v in range(1, b.latest()[0] + 1)
    }
    data_dirs = {d for d in os.listdir(b.root) if d.startswith("v-")}
    assert data_dirs == referenced


def test_txn_optimize_zorder_with_rival_delete(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "z1")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("x"),
        (F.col("id") % 17).alias("y"),
    )
    b.commit(df.repartition(8))

    def hook():
        rival.delete_where("x = 5")

    b.optimize_zorder("x", "y", n_files=4, test_hook=hook)
    _v, rec = b.latest()
    assert rec["op"]["kind"] == "optimize_zorder"
    vd = os.path.join(b.root, rec["version_dir"])
    # the clustered candidate kept its zone manifest (delete replay
    # only adds a mask — zones over-keep, never lossy)
    assert os.path.exists(os.path.join(vd, "_zone_manifest.json"))
    got = {r["k"] for r in b.read().collect()}
    assert got == {i for i in range(400) if i % 20 != 5}


def test_txn_maintenance_carries_txn_markers(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "t1")
    b.commit(_seed(spark, 10), txn=("appA", "7"))
    b.compact()
    assert b.last_txn("appA") == "7"


# -- view fingerprint hardening ----------------------------------------------


def test_view_fingerprint_null_rendering_raises(spark):
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        view_fingerprint,
    )

    df = spark.createDataFrame([Row(k=1, v="x"), Row(k=2, v=None)])
    with pytest.raises(ValueError, match="rendered NULL"):
        view_fingerprint(df, "cast(k as string) || '|' || v")


def test_view_fingerprint_single_row_perturbation(spark):
    """Fuzz: any single-row perturbation must change the fingerprint
    (112-bit additive digest — sensitivity pinned over a batch of
    deterministic perturbations)."""
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        view_fingerprint,
    )

    rows = [Row(k=i, v=f"s{i * 7 % 13}") for i in range(50)]
    base = spark.createDataFrame(rows)
    expr = "cast(k as string) || '|' || coalesce(v, '<null>')"
    fp0 = view_fingerprint(base, expr)
    assert fp0.count("-") == 2  # rowcount + two 56-bit halves
    for i in (0, 17, 49):
        mutated = spark.createDataFrame(
            [Row(k=r.k, v=(r.v + "!" if r.k == i else r.v)) for r in rows]
        )
        assert view_fingerprint(mutated, expr) != fp0
    dropped = spark.createDataFrame(rows[1:])
    assert view_fingerprint(dropped, expr) != fp0


# -- DML failure cleanup (r9 ADVICE medium) ----------------------------------


def _dml_store(spark, root, protocol):
    """A store of either commit protocol plus a probe of everything a
    failed DML must leave unchanged: the version directories and the
    current version."""
    root = str(root)
    if protocol == "store":
        store = DocumentStore(spark, root, "k")
        return store, lambda: (
            store.list_versions(), store.current_version_dir()
        )
    store = TransactionalParquetBackend(spark, root, "k")
    return store, lambda: (
        sorted(d for d in os.listdir(root) if d.startswith("v-")),
        store.current_version(),
    )


@pytest.mark.parametrize("protocol", ["store", "txn"])
def test_delete_where_failed_predicate_leaves_no_phantom(
    spark, tmp_path, protocol
):
    store, state = _dml_store(spark, tmp_path / "d1", protocol)
    store.commit(_seed(spark, 10))
    before = state()
    for cdf in (False, True):
        with pytest.raises(Exception):
            store.delete_where("no_such_column = 1", cdf=cdf)
        assert state() == before


@pytest.mark.parametrize("protocol", ["store", "txn"])
def test_update_where_failed_set_expr_leaves_no_phantom(
    spark, tmp_path, protocol
):
    store, state = _dml_store(spark, tmp_path / "d2", protocol)
    store.commit(_seed(spark, 10))
    before = state()
    with pytest.raises(Exception):
        store.update_where("grp = 1", {"val": "no_such_column + 1"})
    assert state() == before


def test_store_compact_sizes_without_count(spark, tmp_path):
    """compact's sizing is footer-only: right-sized output and
    DV-materializing behavior preserved after the r9 #6 rework."""
    store = DocumentStore(spark, str(tmp_path / "d3"), "k")
    store.commit(_seed(spark, 30).repartition(6))
    store.delete_where("grp = 0")
    out = store.compact(target_rows_per_file=1_000_000)
    files = [
        f for f in os.listdir(out) if f.endswith(".parquet")
    ]
    assert len(files) == 1
    assert _dv_position_count(out) == 0
    got = {r["k"] for r in store.read().collect()}
    assert got == {i for i in range(30) if i % 5 != 0}


def test_diff_frames_public_seam_matches_alias(spark):
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        diff_frames,
    )

    a = spark.createDataFrame([Row(k=1, v="x"), Row(k=2, v="y")])
    b = spark.createDataFrame([Row(k=2, v="z"), Row(k=3, v="w")])
    via_fn = diff_frames(a, b, "k").collect()
    via_alias = DocumentStore._diff_frames(a, b, "k").collect()
    assert sorted(map(tuple, via_fn)) == sorted(map(tuple, via_alias))
    kinds = {r["k"]: r["change_type"] for r in via_fn}
    assert kinds == {1: "delete", 2: "update", 3: "insert"}


# -- MIN/MAX (non-self-maintainable) IVM --------------------------------------


def _extrema_roundtrip(spark, v1_rows, v2_rows):
    """Maintain (count,sum,min,max) from v1->v2 CDC and compare with
    the direct recompute over v2."""
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        incremental_rollup_extrema,
    )
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        diff_frames,
    )

    schema = "k long, grp string, val long"
    v1 = spark.createDataFrame(v1_rows, schema)
    v2 = spark.createDataFrame(v2_rows, schema)

    def full(df):
        return df.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )

    changes = diff_frames(v1, v2, "k", include_old=True)
    got = incremental_rollup_extrema(
        full(v1),
        changes,
        v2,
        group_col="grp",
        count_col="n",
        sum_map={"sum_val": "val"},
        min_map={"min_val": "val"},
        max_map={"max_val": "val"},
    )
    want = full(v2)
    assert (
        got.exceptAll(want).unionByName(want.exceptAll(got)).count() == 0
    ), (sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect())))


def test_extrema_delete_of_group_max_recomputes(spark):
    v1 = [(1, "a", 10), (2, "a", 99), (3, "a", 50), (4, "b", 7)]
    v2 = [(1, "a", 10), (3, "a", 50), (4, "b", 7)]  # a's max deleted
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_update_past_other_groups_max(spark):
    v1 = [(1, "a", 10), (2, "a", 99), (3, "b", 5), (4, "b", 7)]
    # row 3 updated PAST b's stored max; row 2 (a's max) deleted
    v2 = [(1, "a", 10), (3, "b", 1000), (4, "b", 7)]
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_tied_max_survives_single_delete(spark):
    # two rows tie a's max; deleting one must keep max=99 (the
    # recompute leg, not blind maintenance, gets this right)
    v1 = [(1, "a", 99), (2, "a", 99), (3, "a", 1)]
    v2 = [(2, "a", 99), (3, "a", 1)]
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_group_key_move_and_new_group(spark):
    v1 = [(1, "a", 10), (2, "a", 20)]
    # row 2 moves a->c (retract from a, add to c); new group d appears
    v2 = [(1, "a", 10), (2, "c", 20), (5, "d", -3)]
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_group_disappears(spark):
    v1 = [(1, "a", 10), (2, "b", 20)]
    v2 = [(1, "a", 10)]
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_null_values_ignored(spark):
    v1 = [(1, "a", 10), (2, "a", None), (3, "b", None)]
    v2 = [(1, "a", 10), (3, "b", None), (4, "b", 5)]
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_inserts_only_improve_without_recompute(spark):
    v1 = [(1, "a", 10), (2, "a", 99)]
    v2 = [(1, "a", 10), (2, "a", 99), (5, "a", 3), (6, "a", 200)]
    _extrema_roundtrip(spark, v1, v2)


def test_extrema_empty_changelog_is_identity(spark):
    v1 = [(1, "a", 10), (2, "b", 20)]
    _extrema_roundtrip(spark, v1, v1)


# -- readStream over the store's change feed ----------------------------------


def _cdf_agg(df):
    return df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
    )


def test_store_cdf_sidecars_written_by_commit_and_dml(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s1"), "k")
    v1 = spark.createDataFrame(
        [(i, f"g{i % 3}", i * 10) for i in range(12)],
        "k long, grp string, val long",
    )
    d1 = store.commit(v1, cdf=True)
    ch1 = spark.read.parquet(os.path.join(d1, "_changes"))
    assert set(ch1.columns) == {
        "k", "change_type", "grp", "val", "old_grp", "old_val"
    }
    assert ch1.count() == 12
    assert {r["change_type"] for r in ch1.collect()} == {"insert"}

    d2, n = store.delete_where("k % 4 = 0", cdf=True)
    assert n == 3
    ch2 = spark.read.parquet(os.path.join(d2, "_changes"))
    rows = ch2.collect()
    assert {r["change_type"] for r in rows} == {"delete"}
    assert {r["k"] for r in rows} == {0, 4, 8}
    assert all(r["val"] is None and r["old_val"] is not None for r in rows)

    d3, n = store.update_where("k % 5 = 1", {"val": "val + 7"}, cdf=True)
    ch3 = spark.read.parquet(os.path.join(d3, "_changes"))
    rows = {r["k"]: r for r in ch3.collect()}
    assert set(rows) == {1, 6, 11} and n == 3
    assert all(
        r["change_type"] == "update" and r["val"] == r["old_val"] + 7
        for r in rows.values()
    )
    # the DML versions must NOT inherit the predecessor's _changes:
    # each sidecar describes exactly its own commit
    assert ch2.count() == 3 and ch3.count() == 3


def test_store_cdf_stream_exactly_once_across_restart(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import (
        cdf_source,
    )
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_rollup_sync,
    )

    assert cdf_source.register(spark)
    src = DocumentStore(spark, str(tmp_path / "src"), "k")
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", i * 10) for i in range(30)],
        "k long, grp string, val long",
    )
    src.commit(base.filter("k % 2 = 0"), cdf=True)   # v1: evens
    src.commit(base.filter("k % 3 <> 0"), cdf=True)  # v2: churn

    roll = DocumentStore(spark, str(tmp_path / "roll"), "grp")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = (
            spark.readStream.format("store_cdf")
            .option("path", src.root)
            .load()
        )
        q = cdf_rollup_sync(
            stream, roll, ck, "grp", "n", {"s": "val"}, "cdfroll"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    got = {tuple(r) for r in roll.read().collect()}
    want = {tuple(r) for r in _cdf_agg(src.read()).collect()}
    assert got == want

    # upstream DML lands while the consumer is DOWN; the restart must
    # process exactly the two new versions (offsets from checkpoint)
    src.delete_where("k % 7 = 0", cdf=True)
    src.update_where("k % 5 = 0", {"val": "val + 100"}, cdf=True)
    run_once()
    got = {tuple(r) for r in roll.read().collect()}
    want = {tuple(r) for r in _cdf_agg(src.read()).collect()}
    assert got == want

    # a third run with no new upstream commits must write NOTHING
    n_versions = len(roll.list_versions())
    run_once()
    assert len(roll.list_versions()) == n_versions


def test_store_cdf_range_with_hole_fails_loudly(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources.cdf_source import (
        StoreCDFStreamReader,
        _committed_versions,
    )

    store = DocumentStore(spark, str(tmp_path / "s2"), "k")
    df = spark.createDataFrame([(1, "a", 1)], "k long, grp string, val long")
    store.commit(df, cdf=True)
    store.commit(df, cdf=False)  # the hole
    versions = _committed_versions(store.root)
    assert len(versions) == 2
    reader = StoreCDFStreamReader(store.root, spark.read.parquet(
        os.path.join(store.root, versions[0], "_changes")).schema)
    with pytest.raises(ValueError, match="without cdf=True"):
        reader.partitions({"last": ""}, {"last": versions[-1]})


# -- DV DML x schema evolution (r9 VERDICT #7) --------------------------------


def test_dv_dml_across_schema_evolution(spark, tmp_path):
    """update_where/delete_where on a version whose schema gained a
    column mid-history: the mask rides the old files, updated images
    append with the evolved schema, and the change feed spans the
    whole history (typed-NULL backfill on pre-evolution steps)."""
    store = DocumentStore(spark, str(tmp_path / "sevo"), "k")
    v1 = spark.createDataFrame(
        [(i, f"n{i}") for i in range(12)], "k long, name string"
    )
    store.commit(v1)
    # schema evolves: column b appears, populated for evens
    v2 = spark.createDataFrame(
        [(i, f"n{i}", i * 10 if i % 2 == 0 else None) for i in range(12)],
        "k long, name string, b long",
    )
    store.commit(v2)
    # DML referencing/setting the NEW column
    _d3, n_up = store.update_where(
        "b is not null and k % 4 = 0", {"b": "b + 1"}
    )
    assert n_up == 3  # k = 0, 4, 8
    _d4, n_del = store.delete_where("b is not null and k % 6 = 0")
    # TOTAL masked positions: 3 inherited from the update's masks
    # plus the 2 new deletes (k = 0, 6) — the documented contract
    assert n_del == 5

    got = {(r["k"], r["name"], r["b"]) for r in store.read().collect()}
    want = set()
    for i in range(12):
        b = i * 10 if i % 2 == 0 else None
        if b is not None and i % 4 == 0:
            b += 1
        if b is not None and i % 6 == 0:
            continue
        want.add((i, f"n{i}", b))
    assert got == want

    # the change feed spans the evolution AND the DML versions
    feed = store.change_feed()
    by_type = {
        r["change_type"]: r["n"]
        for r in feed.groupBy("change_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    # d12: evens gained b (6 updates); d23: 3 updates; d34: 2 deletes
    assert by_type == {"update": 9, "delete": 2}
    # live counts from footers track the masked view
    hist = {
        r["version_dir"]: r["n_rows"]
        for r in store.describe_history().collect()
    }
    assert sorted(hist.values()) == sorted([12, 12, 12, 10])


# -- MERGE INTO (multi-clause, one DV commit) ---------------------------------


def _merge_fixture(spark, tmp_path, protocol="store"):
    store, _state = _dml_store(spark, tmp_path / "merge", protocol)
    base = spark.createDataFrame(
        [(i, i * 10, "base") for i in range(1, 9)],
        "k int, val int, src string",
    )
    store.commit(base)
    source = spark.createDataFrame(
        [(2, 99, "s"), (4, 1, "s"), (6, 77, "s"), (10, 5, "s"), (11, 6, "s")],
        "k int, val int, src string",
    )
    return store, source


def test_merge_into_three_clauses(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    out, counts = store.merge_into(
        source,
        when_matched_update={"val": "s.val + t.val", "src": "'merged'"},
        when_matched_delete="s.val < 10",
        when_not_matched_insert=True,
        cdf=True,
    )
    assert counts == {"updated": 2, "deleted": 1, "inserted": 2,
                      "deleted_by_source": 0}
    got = {r["k"]: (r["val"], r["src"]) for r in store.read().collect()}
    assert 4 not in got                      # matched-delete clause
    assert got[2] == (119, "merged")         # matched-update: s+t
    assert got[6] == (137, "merged")
    assert got[10] == (5, "s") and got[11] == (6, "s")   # inserts
    assert got[1] == (10, "base")            # untouched rows survive
    # one commit: exactly two versions in history
    assert len(store.list_versions()) == 2
    # CDF sidecar carries all three change types with pre/post images
    feed = {
        (r["k"], r["change_type"]): (r["val"], r["old_val"])
        for r in spark.read.parquet(
            os.path.join(out, "_changes")
        ).collect()
    }
    assert feed[(4, "delete")] == (None, 40)
    assert feed[(2, "update")] == (119, 20)
    assert feed[(10, "insert")] == (5, None)


def test_merge_into_noop_commits_nothing(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    cur = store.current_version_dir()
    out, counts = store.merge_into(
        source.filter("k = 999"),
        when_matched_update={"val": "s.val"},
    )
    assert out == cur and not any(counts.values())
    assert len(store.list_versions()) == 1


def test_merge_into_duplicate_source_keys_rejected(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate keys"):
        store.merge_into(
            source.unionByName(source),
            when_matched_update={"val": "s.val"},
        )
    assert len(store.list_versions()) == 1   # no phantom directory


@pytest.mark.parametrize("protocol", ["store", "txn"])
def test_merge_into_failed_expr_leaves_no_phantom(spark, tmp_path, protocol):
    store, source = _merge_fixture(spark, tmp_path, protocol)
    _, state = _dml_store(spark, tmp_path / "merge", protocol)
    before = state()
    with pytest.raises(Exception):
        store.merge_into(
            source, when_matched_update={"val": "no_such_col + 1"}
        )
    assert state() == before


def test_merge_into_update_condition_gates_clause(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    out, counts = store.merge_into(
        source,
        when_matched_update={"val": "s.val"},
        update_condition="t.val >= 60",      # only k=6 passes the gate
        when_not_matched_insert=False,
    )
    assert counts == {"updated": 1, "deleted": 0, "inserted": 0,
                      "deleted_by_source": 0}
    got = {r["k"]: r["val"] for r in store.read().collect()}
    assert got[6] == 77 and got[2] == 20 and got[4] == 40


def test_merge_into_insert_only_missing_cols_null(spark, tmp_path):
    store, _ = _merge_fixture(spark, tmp_path)
    narrow = spark.createDataFrame([(20, 5)], "k int, val int")  # no src col
    _, counts = store.merge_into(narrow, when_not_matched_insert=True)
    assert counts == {"updated": 0, "deleted": 0, "inserted": 1,
                      "deleted_by_source": 0}
    row = {r["k"]: (r["val"], r["src"]) for r in store.read().collect()}[20]
    assert row == (5, None)


def test_merge_into_deletes_accumulate_with_prior_dv(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    store.delete_where("k = 8")              # prior DV mask on the version
    _, counts = store.merge_into(
        source, when_matched_delete="true", when_not_matched_insert=False,
    )
    assert counts["deleted"] == 3            # k in (2, 4, 6); 8 already gone
    keys = {r["k"] for r in store.read().collect()}
    assert keys == {1, 3, 5, 7}
    # time travel still sees the pre-merge masked view
    v_pre = store.list_versions()[-2]
    pre = {r["k"] for r in store.read_version(
        os.path.join(store.root, v_pre)).collect()}
    assert pre == {1, 2, 3, 4, 5, 6, 7}


def test_merge_into_compact_then_equal(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    store.merge_into(
        source,
        when_matched_update={"val": "s.val"},
        when_matched_delete="s.val < 10",
    )
    before = sorted(tuple(r) for r in store.read().collect())
    store.compact()
    after = sorted(tuple(r) for r in store.read().collect())
    assert before == after
    assert _dv_position_count(store.current_version_dir()) == 0


# -- changelog telescoping + streaming extrema sync ---------------------------


def test_collapse_changelog_telescopes_chains(spark):
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        collapse_changelog,
    )

    rows = [
        # k=1: insert 5 then update to 7 -> net insert(7)
        (1, "insert", 5, None, 100),
        (1, "update", 7, 5, 200),
        # k=2: update 10->3 then 3->8 -> net update(old 10, new 8)
        (2, "update", 3, 10, 100),
        (2, "update", 8, 3, 200),
        # k=3: update 4->6 then delete(6) -> net delete(old 4)
        (3, "update", 6, 4, 100),
        (3, "delete", None, 6, 200),
        # k=4: insert 9 then delete -> dropped
        (4, "insert", 9, None, 100),
        (4, "delete", None, 9, 200),
        # k=5: delete(2) then insert 11 -> net update(old 2, new 11)
        (5, "delete", None, 2, 100),
        (5, "insert", 11, None, 200),
        # k=6: single insert passes through
        (6, "insert", 1, None, 100),
    ]
    changes = spark.createDataFrame(
        rows, "k int, change_type string, val int, old_val int, commit_ms long"
    )
    got = {
        r["k"]: (r["change_type"], r["val"], r["old_val"])
        for r in collapse_changelog(changes, "k").collect()
    }
    assert got == {
        1: ("insert", 7, None),
        2: ("update", 8, 10),
        3: ("delete", None, 4),
        5: ("update", 11, 2),
        6: ("insert", 1, None),
    }


def test_cdf_extrema_sync_maintains_minmax(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_extrema_sync,
    )

    assert cdf_source.register(spark)
    src = DocumentStore(spark, str(tmp_path / "src"), key_col="k")
    roll = DocumentStore(spark, str(tmp_path / "roll"), key_col="grp")
    ck = str(tmp_path / "ck")
    base = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(1, 13)], "k int, grp int, val int"
    )
    src.commit(base, cdf=True)

    def run_once():
        stream = (
            spark.readStream.format("store_cdf")
            .option("path", src.root).load()
        )
        q = cdf_extrema_sync(
            stream, src, roll, ck, "grp", "n",
            {"sum_val": "val"}, {"min_val": "val"}, {"max_val": "val"},
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    # while the consumer is down: delete every group's max, push one
    # row past another group's max, and chain an update on one key —
    # the restart consumes BOTH versions in one micro-batch, so the
    # telescoping path is exercised, not just the single-commit path
    src.delete_where("val >= 100", cdf=True)          # kills group maxes
    src.update_where("k = 2", {"val": "val + 500"}, cdf=True)
    run_once()
    n_versions = len(roll.list_versions())
    run_once()  # nothing new: exactly-once marker must skip
    assert len(roll.list_versions()) == n_versions

    got = {
        r["grp"]: (r["n"], r["sum_val"], r["min_val"], r["max_val"])
        for r in roll.read().collect()
    }
    want = {
        r["grp"]: (r["n"], r["sum_val"], r["min_val"], r["max_val"])
        for r in src.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        ).collect()
    }
    assert got == want


# -- MERGE INTO on the lock-free multi-writer log -----------------------------


def test_txn_merge_into_three_clauses(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "m1")
    b.commit(_seed(spark, 10).repartition(4))
    source = spark.createDataFrame(
        [(2, 0, 999), (4, 1, -5), (100, 2, 7)], "k long, grp long, val long"
    )
    handle, counts = b.merge_into(
        source,
        when_matched_update={"val": "s.val + t.val"},
        when_matched_delete="s.val < 0",
        when_not_matched_insert=True,
    )
    assert handle == "txn://2"
    assert counts == {"updated": 1, "deleted": 1, "inserted": 1,
                      "deleted_by_source": 0}
    got = {r["k"]: r["val"] for r in b.read().collect()}
    assert 4 not in got and got[2] == 999 + 20 and got[100] == 7
    assert got[3] == 30  # untouched


def test_txn_merge_into_rederives_after_rival(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "m2")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    b.commit(_seed(spark, 10).repartition(4))
    source = spark.createDataFrame(
        [(2, 0, 999), (3, 0, 5), (100, 2, 7)], "k long, grp long, val long"
    )
    # fire a rival delete at the merge's FIRST publish attempt: the
    # merge must discard its candidate and re-derive against the
    # winner, so the rival's delete of k=3 removes it from the
    # matched set (its update clause must not resurrect it)
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst):
        if (
            "/_log/" in dst.replace(os.sep, "/")
            and not os.path.basename(dst).startswith("_")
            and not state["fired"]
        ):
            state["fired"] = True
            rival.delete_where("k = 3")
        return real_link(src, dst)

    try:
        os.link = racing_link
        handle, counts = b.merge_into(
            source, when_matched_update={"val": "s.val + t.val"},
        )
    finally:
        os.link = real_link
    assert handle == "txn://3"  # rival owns 2, re-derived merge owns 3
    # k=3 was deleted by the rival BEFORE the re-derivation, so the
    # merge sees it as NOT MATCHED and re-inserts it from the source —
    # the update clause must not resurrect the old image (val 30)
    assert counts == {"updated": 1, "deleted": 0, "inserted": 2,
                      "deleted_by_source": 0}
    got = {r["k"]: r["val"] for r in b.read().collect()}
    assert got[3] == 5           # source image, not the deleted row's 30
    assert got[2] == 999 + 20 and got[100] == 7


def test_txn_compact_rebuilds_on_rival_merge(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "m3")
    rival = TransactionalParquetBackend(
        spark, b.root, "k", writer_id="rival"
    )
    b.commit(_seed(spark, 10).repartition(4))
    source = spark.createDataFrame(
        [(2, 0, 999), (4, 1, -5)], "k long, grp long, val long"
    )

    def hook():
        # merge is NON-replayable (clause outcomes depend on the
        # source frame): the compaction must rebuild, not replay
        rival.merge_into(
            source,
            when_matched_update={"val": "s.val"},
            when_matched_delete="s.val < 0",
            when_not_matched_insert=False,
        )

    b.compact(target_rows_per_file=1_000_000, test_hook=hook)
    _v, rec = b.latest()
    assert rec["op"]["kind"] == "compact"
    got = {r["k"]: r["val"] for r in b.read().collect()}
    assert 4 not in got and got[2] == 999
    # rebuilt on top of the merge: compacted snapshot carries no mask
    vd = os.path.join(b.root, rec["version_dir"])
    assert _dv_position_count(vd) == 0


def test_txn_merge_into_carries_txn_markers(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "m4")
    b.commit(_seed(spark, 10), txn=("appZ", "3"))
    source = spark.createDataFrame([(1, 0, 42)], "k long, grp long, val long")
    b.merge_into(
        source, when_matched_update={"val": "s.val"},
        txn=("merger", "9"),
    )
    assert b.last_txn("appZ") == "3" and b.last_txn("merger") == "9"


def test_merge_into_not_matched_by_source_delete(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    # full-sync shape: source IS the desired state — matched rows
    # update, unmatched target rows leave, unmatched source rows enter
    out, counts = store.merge_into(
        source,
        when_matched_update={"val": "s.val", "src": "s.src"},
        when_not_matched_insert=True,
        when_not_matched_by_source_delete="true",
        cdf=True,
    )
    assert counts == {"updated": 3, "deleted": 0, "inserted": 2,
                      "deleted_by_source": 5}
    got = sorted((r["k"], r["val"]) for r in store.read().collect())
    want = sorted((r["k"], r["val"]) for r in source.collect())
    assert got == want
    # CDF carries the by-source deletes with pre-images
    cd = spark.read.parquet(os.path.join(out, "_changes"))
    dels = {
        r["k"]: r["old_val"]
        for r in cd.filter("change_type = 'delete'").collect()
    }
    assert dels == {1: 10, 3: 30, 5: 50, 7: 70, 8: 80}


def test_merge_into_by_source_delete_conditional(spark, tmp_path):
    store, source = _merge_fixture(spark, tmp_path)
    _, counts = store.merge_into(
        source,
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="val > 50",
    )
    assert counts == {"updated": 0, "deleted": 0, "inserted": 0,
                      "deleted_by_source": 2}   # k=7 (70), k=8 (80)
    keys = {r["k"] for r in store.read().collect()}
    assert keys == {1, 2, 3, 4, 5, 6}


def test_txn_merge_into_by_source_delete(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "m5")
    b.commit(_seed(spark, 10).repartition(4))
    source = spark.createDataFrame(
        [(2, 0, 999), (100, 2, 7)], "k long, grp long, val long"
    )
    _, counts = b.merge_into(
        source,
        when_matched_update={"val": "s.val"},
        when_not_matched_insert=True,
        when_not_matched_by_source_delete="k >= 8",
    )
    assert counts == {"updated": 1, "deleted": 0, "inserted": 1,
                      "deleted_by_source": 2}   # k=8, k=9
    got = {r["k"]: r["val"] for r in b.read().collect()}
    assert got[2] == 999 and got[100] == 7
    assert 8 not in got and 9 not in got and got[7] == 70


# -- O(filecount) RESTORE ------------------------------------------------------


def test_restore_is_linked_not_rewritten(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "rs"), key_col="k")
    v1 = store.commit(
        spark.createDataFrame([(i, i * 10) for i in range(6)], "k int, v int")
    )
    store.commit(
        spark.createDataFrame([(9, 90)], "k int, v int")
    )
    v3 = store.restore(v1, cdf=True)
    assert sorted(r["k"] for r in store.read().collect()) == list(range(6))
    # metadata-only: every data file in the restored version shares an
    # inode with the target version (hard link, zero data movement)
    v1_inodes = {
        f: os.stat(os.path.join(v1, f)).st_ino
        for f in os.listdir(v1) if f.endswith(".parquet")
    }
    for f, ino in v1_inodes.items():
        assert os.stat(os.path.join(v3, f)).st_ino == ino
    # the restore's own CDF describes the rollback as ordinary changes
    cd = spark.read.parquet(os.path.join(v3, "_changes"))
    by_type = {r["change_type"] for r in cd.collect()}
    assert by_type == {"insert", "delete"}   # 0-5 return, 9 retracts


def test_restore_preserves_dv_masked_view(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "rdv"), key_col="k")
    v1 = store.commit(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "k int, v int")
    )
    v2, _ = store.delete_where("k % 3 = 0")
    store.commit(spark.createDataFrame([(99, 0)], "k int, v int"))
    store.restore(v2)
    got = sorted(r["k"] for r in store.read().collect())
    assert got == [i for i in range(8) if i % 3 != 0]


# -- CDF over the lock-free multi-writer log -----------------------------------


def test_txn_cdf_feed_shape_and_maintenance_skip(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "cdf1")
    b.commit(_seed(spark, 12), cdf=True)
    b.delete_where("k % 4 = 0", cdf=True)
    b.compact()                       # maintenance: skipped, not a hole
    b.update_where("k = 1", {"val": "val + 5"}, cdf=True)
    src = spark.createDataFrame(
        [(1, 0, 7), (100, 2, 9)], "k long, grp long, val long"
    )
    b.merge_into(src, when_matched_update={"val": "s.val"}, cdf=True)
    feed = spark.read.format("store_cdf_txn").option("path", b.root).load()
    got = {
        (r["commit_version"], r["change_type"]): r["n"]
        for r in feed.groupBy("commit_version", "change_type")
        .count().withColumnRenamed("count", "n").collect()
    }
    assert got == {
        (1, "insert"): 12, (2, "delete"): 3,
        (4, "update"): 1, (5, "update"): 1, (5, "insert"): 1,
    }
    # pre/post images: the update carries old_val
    upd = feed.filter("commit_version = 4").collect()[0]
    assert upd["val"] == 15 and upd["old_val"] == 10


def test_txn_cdf_missing_sidecar_fails_loudly(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "cdf2")
    b.commit(_seed(spark, 6), cdf=True)
    b.delete_where("k = 1")           # cdf NOT requested: a real hole
    with pytest.raises(Exception, match="sidecar|holes"):
        spark.read.format("store_cdf_txn").option(
            "path", b.root
        ).load().collect()


def test_txn_cdf_stream_exactly_once_across_restart(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_rollup_sync,
    )

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "cdf3")
    roll = DocumentStore(spark, str(tmp_path / "cdf3roll"), key_col="grp")
    ck = str(tmp_path / "cdf3ck")
    b.commit(_seed(spark, 12), cdf=True)

    def run_once():
        stream = (
            spark.readStream.format("store_cdf_txn")
            .option("path", b.root).load()
            .drop("commit_version")   # rollup consumer is shape-agnostic
        )
        q = cdf_rollup_sync(
            stream, roll, ck, "grp", "n", {"sum_val": "val"}, "txncdfroll",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    # two writers land DML while the consumer is down; a compact in
    # between must be skipped, not break the offset range
    rival = TransactionalParquetBackend(spark, b.root, "k", writer_id="r")
    rival.delete_where("grp = 2", cdf=True)
    b.compact()
    b.update_where("grp = 1", {"val": "val + 100"}, cdf=True)
    run_once()
    n_versions = len(roll.list_versions())
    run_once()                        # nothing new: must write nothing
    assert len(roll.list_versions()) == n_versions
    got = {
        r["grp"]: (r["n"], r["sum_val"]) for r in roll.read().collect()
    }
    want = {
        r["grp"]: (r["n"], r["sum_val"])
        for r in b.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val")
        ).collect()
    }
    assert got == want


# -- time travel + retention vacuum on the lock-free log -----------------------


def test_txn_read_version_and_as_of(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "tt1")
    b.commit(_seed(spark, 6))
    b.delete_where("k % 2 = 0")
    b.update_where("k = 1", {"val": "val + 5"})
    t2 = b._read_record(2)["ts_ms"]
    # versionAsOf: each snapshot exactly as served at that head
    assert {r["k"] for r in b.read_version(1).collect()} == set(range(6))
    assert {r["k"] for r in b.read_version(2).collect()} == {1, 3, 5}
    v3 = {r["k"]: r["val"] for r in b.read_version(3).collect()}
    assert v3 == {1: 15, 3: 30, 5: 50}
    # timestampAsOf: newest version at-or-before the bound
    as_of = {r["k"] for r in b.read_as_of(t2).collect()}
    assert as_of == {1, 3, 5}
    assert b.read_as_of(0) is None
    with pytest.raises(FileNotFoundError):
        b.read_version(99)


def test_txn_vacuum_versions_window(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "tt2")
    for i in range(4):
        b.commit_with(
            lambda cur, i=i: _seed(spark, 6).withColumn(
                "tag", F.lit(i)
            )
            if cur is None
            else cur.withColumn("tag", F.lit(i))
        )
    removed = b.vacuum_versions(keep_last=2)
    assert len(removed) == 2
    # history records survive; data inside the window serves exactly
    assert b.history().count() == 4
    assert b.read_version(4).count() == 6
    assert b.read_version(3).count() == 6
    # outside the window fails loudly, never partial state
    with pytest.raises(ValueError, match="retention vacuum"):
        b.read_version(1)


def test_txn_vacuum_keeps_hardlinked_live_data(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "tt3")
    b.commit(_seed(spark, 8))
    b.delete_where("k = 0")     # v2 hard-links v1's files
    b.delete_where("k = 1")     # v3 hard-links v2's files
    b.vacuum_versions(keep_last=1)
    # v1/v2 dirs removed, but v3's hard links keep the inodes alive
    got = {r["k"] for r in b.read().collect()}
    assert got == set(range(2, 8))
    with pytest.raises(ValueError):
        b.read_version(1)


def test_txn_cdf_extrema_pins_by_version(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_extrema_sync,
    )

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "cx1")
    roll = DocumentStore(spark, str(tmp_path / "cx1roll"), key_col="grp")
    ck = str(tmp_path / "cx1ck")
    b.commit(_seed(spark, 12), cdf=True)

    def run_once():
        stream = (
            spark.readStream.format("store_cdf_txn")
            .option("path", b.root).load()
        )
        q = cdf_extrema_sync(
            stream, b, roll, ck, "grp", "n",
            {"sum_val": "val"}, {"min_val": "val"}, {"max_val": "val"},
            "cxext",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    # restart batch: delete every group's max, then chain two updates
    # on one key — version pinning + telescoping both load-bearing
    b.delete_where("val >= 80", cdf=True)
    b.update_where("k = 1", {"val": "val + 100"}, cdf=True)
    b.update_where("k = 1", {"val": "val + 100"}, cdf=True)
    run_once()
    got = {
        r["grp"]: (r["n"], r["sum_val"], r["min_val"], r["max_val"])
        for r in roll.read().collect()
    }
    want = {
        r["grp"]: (r["n"], r["sum_val"], r["min_val"], r["max_val"])
        for r in b.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"), F.max("val").alias("max_val"),
        ).collect()
    }
    assert got == want


def test_txn_vacuum_rejects_keep_last_zero(spark, tmp_path):
    b = _mk_backend(spark, tmp_path, "tt4")
    b.commit(_seed(spark, 4))
    with pytest.raises(ValueError, match="keep_last"):
        b.vacuum_versions(keep_last=0)
    assert b.read().count() == 4


def test_txn_cdf_schema_evolution_spans_feed(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "evo1")
    b.commit(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k int, val int"
        ),
        cdf=True,
    )
    # snapshot commit gains a column; DML then reads/sets it
    b.commit_with(lambda cur: cur.withColumn("extra", F.col("k") % 2),
                  cdf=True)
    b.update_where("extra = 1", {"val": "val + 100"}, cdf=True)
    b.delete_where("extra = 0 and k >= 4", cdf=True)
    feed = spark.read.format("store_cdf_txn").option("path", b.root).load()
    # the NEWEST sidecar anchors the schema: the evolved column is
    # visible, pre-evolution sidecars read as typed NULLs
    assert "extra" in feed.columns and "old_extra" in feed.columns
    assert all(
        r["extra"] is None
        for r in feed.filter("commit_version = 1").collect()
    )
    got = {
        (r["commit_version"], r["change_type"]): r["n"]
        for r in feed.groupBy("commit_version", "change_type")
        .count().withColumnRenamed("count", "n").collect()
    }
    assert got == {
        (1, "insert"): 6, (2, "update"): 6,
        (3, "update"): 3, (4, "delete"): 1,
    }


def test_store_cdf_schema_anchors_on_newest_sidecar(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source

    assert cdf_source.register(spark)
    store = DocumentStore(spark, str(tmp_path / "evo2"), key_col="k")
    store.commit(
        spark.createDataFrame([(1, "a")], "k int, s string"), cdf=True
    )
    store.commit(
        spark.createDataFrame([(1, "a", 5)], "k int, s string, n int"),
        cdf=True,
    )
    feed = spark.read.format("store_cdf").option(
        "path", store.root
    ).load()
    # before the fix the first sidecar anchored the schema and the
    # later-added column was silently invisible
    assert "n" in feed.columns and "old_n" in feed.columns


# -- review fixes: three-valued merge, NULL keys, clock skew, vacuum × feed ----


def test_merge_null_delete_condition_falls_to_update(spark, tmp_path):
    """SQL/Delta three-valued MERGE: a NULL delete condition means
    NOT deleted — the row must take the update clause, not be
    silently skipped (review fix)."""
    store2 = DocumentStore(spark, str(tmp_path / "tv2"), key_col="k")
    store2.commit(
        spark.createDataFrame(
            [(1, 10, None), (2, 20, 9)], "k int, val int, flag int"
        )
    )
    src2 = spark.createDataFrame(
        [(1, 99), (2, 7)], "k int, val int"
    )
    _, c2 = store2.merge_into(
        src2,
        when_matched_update={"val": "s.val"},
        when_matched_delete="t.flag > 5",   # NULL for k=1
        when_not_matched_insert=False,
    )
    assert c2["deleted"] == 1 and c2["updated"] == 1
    got = {r["k"]: r["val"] for r in store2.read().collect()}
    assert got == {1: 99}   # k=1 updated (not skipped), k=2 deleted


def test_merge_by_source_delete_masks_null_key(spark, tmp_path):
    """A NULL-key row selected by when_not_matched_by_source_delete
    must actually disappear from the snapshot (review fix: the
    key-set mask join is null-safe)."""
    store = DocumentStore(spark, str(tmp_path / "nk"), key_col="k")
    store.commit(
        spark.createDataFrame(
            [(1, 10), (None, 20), (3, 30)], "k int, val int"
        )
    )
    src = spark.createDataFrame([(1, 99)], "k int, val int")
    _, counts = store.merge_into(
        src,
        when_matched_update={"val": "s.val"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="true",
    )
    assert counts["deleted_by_source"] == 2      # NULL-key row + k=3
    rows = sorted(
        (r["k"], r["val"]) for r in store.read().collect()
    )
    assert rows == [(1, 99)]                     # NULL-key row GONE


def test_txn_cdf_extrema_orders_by_version_not_clock(spark, tmp_path):
    """Two commits whose wall clocks contradict the log order: the
    telescoped net change must follow the VERSION order (review fix —
    commit_ms is not authoritative on a multi-writer log)."""
    import json as _json

    from far_finer_airtable_firestore_sync_spark.sources import cdf_source
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        cdf_extrema_sync,
    )

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "skew")
    b.commit(_seed(spark, 4), cdf=True)
    b.update_where("k = 1", {"val": "200"}, cdf=True)   # v2
    b.update_where("k = 1", {"val": "300"}, cdf=True)   # v3 (final)
    # skew the clocks: v2 claims a LATER wall time than v3
    for v, ts in ((2, 9_999_999_999_999), (3, 1)):
        path = b._record_path(v)
        rec = _json.load(open(path))
        rec["ts_ms"] = ts
        os.chmod(path, 0o644)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(rec, fh)
        os.replace(tmp, path)
    roll = DocumentStore(spark, str(tmp_path / "skewroll"), key_col="grp")
    stream = (
        spark.readStream.format("store_cdf_txn")
        .option("path", b.root).load()
    )
    q = cdf_extrema_sync(
        stream, b, roll, str(tmp_path / "skewck"), "grp", "n",
        {"sum_val": "val"}, {"min_val": "val"}, {"max_val": "val"},
        "skewext",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["grp"]: r["max_val"] for r in roll.read().collect()}
    # grp of k=1 is 1; max must reflect v3's 300, not v2's 200
    assert got[1] == 300, got


def test_txn_cdf_starting_version_skips_vacuumed_history(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source

    assert cdf_source.register_txn(spark)
    b = _mk_backend(spark, tmp_path, "vac")
    b.commit(_seed(spark, 6), cdf=True)
    b.delete_where("k = 0", cdf=True)
    b.update_where("k = 1", {"val": "val + 1"}, cdf=True)
    b.vacuum_versions(keep_last=2)   # v1's data (and sidecar) gone
    # default feed-from-1 fails loudly and names the escape hatch
    with pytest.raises(Exception, match="startingVersion"):
        spark.read.format("store_cdf_txn").option(
            "path", b.root
        ).load().collect()
    feed = (
        spark.read.format("store_cdf_txn")
        .option("path", b.root)
        .option("startingVersion", "2")
        .load()
    )
    got = {
        (r["commit_version"], r["change_type"]) for r in feed.collect()
    }
    assert got == {(2, "delete"), (3, "update")}


def test_collapse_changelog_rejects_stray_old_column(spark):
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        collapse_changelog,
    )

    changes = spark.createDataFrame(
        [(1, "insert", 5, None, 100)],
        "k int, change_type string, old_price int, old_old_price int, "
        "commit_ms long",
    )
    with pytest.raises(ValueError, match="pre-images"):
        collapse_changelog(changes, "k")
