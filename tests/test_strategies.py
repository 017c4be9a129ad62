"""Strategy semantics goldens (SURVEY.md §5.3).

One shared fixture scenario with every row class the strategies
branch on: unchanged, changed, source-only (insert), target-only
(delete/soft-delete), soft-deleted-resurrect, multi-version keys, and
a different-update_type row (purge path).
"""

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.config import (
    SyncSpec,
    UpdateType,
)
from far_finer_airtable_firestore_sync_spark.functions.canonical import Field
from far_finer_airtable_firestore_sync_spark.operators import strategies as st

PAYLOAD = (Field("name", "string"), Field("score", "double"))
RUN_TS = datetime(2026, 1, 1, 0, 0, 0)


def spec_for(ut):
    return SyncSpec(
        primary_key="name",
        update_type=ut,
        payload_fields=PAYLOAD,
        table_name="tbl",
        view_name="v",
        run_ts=RUN_TS,
        version_id=100,
    )


@pytest.fixture()
def source(spark):
    # unchanged, changed, new, resurrect (same payload as tombstone)
    return spark.createDataFrame(
        [
            Row(name="same", score=1.0),
            Row(name="chg", score=2.0),
            Row(name="new", score=3.0),
            Row(name="zombie", score=6.0),
        ]
    )


def target_rows(ut):
    """Target pre-state for update_type ``ut`` (+ one alien row)."""
    u = ut.value
    mk = lambda i: f"d{i}"
    return [
        # checksum-equal to source "same"
        Row(name="same", score=1.0, doc_id=mk(1), update_type=u,
            write_timestamp=datetime(2020, 1, 1), version_id=7,
            latest=True, is_deleted=False),
        # differs from source "chg" (score 99 vs 2)
        Row(name="chg", score=99.0, doc_id=mk(2), update_type=u,
            write_timestamp=datetime(2020, 1, 1), version_id=7,
            latest=True, is_deleted=False),
        # target-only -> delete/soft-delete path
        Row(name="gone", score=4.0, doc_id=mk(3), update_type=u,
            write_timestamp=datetime(2020, 1, 1), version_id=7,
            latest=True, is_deleted=False),
        # soft-deleted, reappears in source with equal checksum
        Row(name="zombie", score=6.0, doc_id=mk(4), update_type=u,
            write_timestamp=datetime(2020, 1, 1), version_id=7,
            latest=True, is_deleted=True),
        # alien update_type -> purged by prologue (except M7)
        Row(name="alien", score=5.0, doc_id=mk(5), update_type="other",
            write_timestamp=datetime(2020, 1, 1), version_id=7,
            latest=True, is_deleted=False),
        # older version of "chg" (multi-version key for M7)
        Row(name="chg", score=50.0, doc_id=mk(6), update_type=u,
            write_timestamp=datetime(2019, 1, 1), version_id=3,
            latest=False, is_deleted=False),
    ]


@pytest.fixture()
def make_target(spark):
    def _make(ut):
        return spark.createDataFrame(target_rows(ut))

    return _make


def snap(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(r[c] for c in cols) for r in df.collect()],
        key=lambda t: tuple(str(x) for x in t),
    )


def by_name(df):
    return {
        (r["name"], r.asDict().get("doc_id")): r.asDict() for r in df.collect()
    }


def test_full_refresh(source, make_target):
    s = spec_for(UpdateType.FULL_REFRESH)
    post = st.full_refresh(source, make_target(s.update_type), s)
    rows = post.collect()
    assert {r["name"] for r in rows} == {"same", "chg", "new", "zombie"}
    assert all(r["update_type"] == "full_refresh" for r in rows)
    assert all(r["write_timestamp"] == RUN_TS for r in rows)


def test_replace_keeps_unmatched_and_rewrites_matched(source, make_target):
    s = spec_for(UpdateType.REPLACE)
    post = st.replace(source, make_target(s.update_type), s)
    d = {r["name"]: r.asDict() for r in post.collect()}
    # alien purged, gone kept (not in batch), matched rewritten
    assert set(d) == {"same", "chg", "new", "zombie", "gone"}
    assert d["gone"]["write_timestamp"] == datetime(2020, 1, 1)
    assert d["chg"]["score"] == 2.0  # rewritten even though old had 99
    assert d["same"]["write_timestamp"] == RUN_TS  # unconditionally rewritten


def test_append_inserts_only_absent_keys(source, make_target):
    s = spec_for(UpdateType.APPEND)
    post = st.append(source, make_target(s.update_type), s)
    rows = post.collect()
    names = sorted(r["name"] for r in rows)
    # chg appears twice in target (2 versions) and is never touched
    assert names == ["chg", "chg", "gone", "new", "same", "zombie"]
    new = next(r for r in rows if r["name"] == "new")
    assert new["version_id"] == 100 and new["write_timestamp"] == RUN_TS
    old = next(r for r in rows if r["name"] == "same")
    assert old["score"] == 1.0 and old["write_timestamp"] == datetime(2020, 1, 1)


def test_upsert_checksum(source, make_target):
    s = spec_for(UpdateType.UPSERT_CHECKSUM)
    post = st.upsert_checksum(source, make_target(s.update_type), s)
    rows = post.collect()
    d = {(r["name"], r["doc_id"]): r.asDict() for r in rows}
    # same: untouched; chg(d2): updated in place (doc_id kept); chg(d6) old version kept
    assert d[("same", "d1")]["write_timestamp"] == datetime(2020, 1, 1)
    assert d[("chg", "d2")]["score"] == 2.0
    assert d[("chg", "d2")]["version_id"] == 100
    assert d[("chg", "d6")]["score"] == 50.0
    assert d[("gone", "d3")]["score"] == 4.0  # no delete in M4
    # zombie checksum equal -> untouched (M4 has no resurrect branch)
    assert d[("zombie", "d4")]["write_timestamp"] == datetime(2020, 1, 1)
    new = next(v for (n, _), v in d.items() if n == "new")
    assert new["version_id"] == 100
    assert ("alien", "d5") not in d  # purged


def test_upsert_checksum_note_duplicate_target_keys(source, make_target):
    """Both matching target rows are checksum-compared (the reference
    compares only existing_docs[0] — nondeterministic; we define
    all-matching-rows semantics, SURVEY.md §7 hard-part #2)."""
    s = spec_for(UpdateType.UPSERT_CHECKSUM)
    post = st.upsert_checksum(source, make_target(s.update_type), s)
    assert post.filter("name = 'chg'").count() == 2


def test_upsert_checksum_with_delete(source, make_target):
    s = spec_for(UpdateType.UPSERT_CHECKSUM_WITH_DELETE)
    post = st.upsert_checksum_with_delete(source, make_target(s.update_type), s)
    names = {r["name"] for r in post.collect()}
    assert "gone" not in names and "alien" not in names
    assert names == {"same", "chg", "new", "zombie"}


def test_soft_delete(source, make_target):
    s = spec_for(UpdateType.SOFT_DELETE)
    post = st.soft_delete(source, make_target(s.update_type), s)
    d = by_name(post)
    # tombstoned target-only row keeps payload, flips flag, fresh ts
    gone = d[("gone", "d3")]
    assert gone["is_deleted"] is True and gone["write_timestamp"] == RUN_TS
    assert gone["score"] == 4.0
    # zombie: checksum equal BUT was deleted -> resurrected
    zombie = d[("zombie", "d4")]
    assert zombie["is_deleted"] is False and zombie["write_timestamp"] == RUN_TS
    # unchanged alive row untouched
    assert d[("same", "d1")]["write_timestamp"] == datetime(2020, 1, 1)
    # changed row updated in place
    assert d[("chg", "d2")]["score"] == 2.0


def test_versioned_flips_all_and_appends_batch(source, make_target):
    s = spec_for(UpdateType.VERSIONED)
    post = st.versioned(source, make_target(s.update_type), s)
    rows = [r.asDict() for r in post.collect()]
    latest = [r for r in rows if r["latest"]]
    assert {r["name"] for r in latest} == {"same", "chg", "new", "zombie"}
    assert all(r["version_id"] == 100 for r in latest)
    assert all(r["start_date"] == RUN_TS for r in latest)
    old = [r for r in rows if not r["latest"]]
    assert len(old) == 5  # all pre-existing same-update_type rows flipped


def test_versioned_checksum(source, make_target):
    s = spec_for(UpdateType.VERSIONED_CHECKSUM)
    post = st.versioned_checksum(source, make_target(s.update_type), s)
    rows = [r.asDict() for r in post.collect()]
    d = {(r["name"], r["doc_id"]): r for r in rows}
    # M7 does NOT purge alien update_types (no purge prologue, :193-211)
    assert ("alien", "d5") in d
    # unchanged key: no new version, old row untouched
    assert len([r for r in rows if r["name"] == "same"]) == 1
    assert d[("same", "d1")]["latest"] is True
    # changed key: new version latest=true, previous latest flipped
    chg_rows = [r for r in rows if r["name"] == "chg"]
    assert len(chg_rows) == 3
    assert d[("chg", "d2")]["latest"] is False
    assert d[("chg", "d6")]["latest"] is False
    newv = next(r for r in chg_rows if r["doc_id"] not in ("d2", "d6"))
    assert newv["latest"] is True and newv["version_id"] == 100
    # new key: version created even with no existing docs
    assert any(r["name"] == "new" and r["latest"] for r in rows)
    # deletes disabled (:203-209): gone still present, untouched
    assert d[("gone", "d3")]["latest"] is True


def test_versioned_set_writes_when_any_change(source, make_target):
    s = spec_for(UpdateType.VERSIONED_SET)
    post = st.versioned_set(source, make_target(s.update_type), s)
    rows = [r.asDict() for r in post.collect()]
    latest = [r for r in rows if r["latest"]]
    assert {r["name"] for r in latest} == {"same", "chg", "new", "zombie"}
    assert all(r["version_id"] == 100 for r in latest)
    # every pre-existing row flipped off
    assert all(not r["latest"] for r in rows if r["doc_id"] in
               {"d1", "d2", "d3", "d4", "d6"})


def test_versioned_set_noop_when_no_change(spark, make_target):
    s = spec_for(UpdateType.VERSIONED_SET)
    target = make_target(s.update_type)
    # source == current latest set exactly (names: same chg gone zombie
    # with their latest scores) -> but zombie/gone row classes make a
    # real noop easier built directly:
    cur_latest = target.filter("latest and update_type = 'versioned_set'")
    src = cur_latest.select("name", "score")
    post = st.versioned_set(src, target, s)
    rows = [r.asDict() for r in post.collect()]
    # no new rows, latest flags untouched
    assert len(rows) == 6 - 1  # alien purged
    assert {r["doc_id"] for r in rows} == {"d1", "d2", "d3", "d4", "d6"}
    assert all(r["latest"] for r in rows if r["doc_id"] in
               {"d1", "d2", "d3", "d4"})


def test_idempotency_second_run_is_noop(spark, source, make_target):
    """SURVEY.md §5.4: running checksum strategies twice on unchanged
    input writes nothing the second time."""
    for ut, fn in [
        (UpdateType.UPSERT_CHECKSUM, st.upsert_checksum),
        (UpdateType.UPSERT_CHECKSUM_WITH_DELETE, st.upsert_checksum_with_delete),
        (UpdateType.SOFT_DELETE, st.soft_delete),
    ]:
        s = spec_for(ut)
        once = fn(source, make_target(ut), s).localCheckpoint()
        twice = fn(source, once, s)
        assert snap(once) == snap(twice), ut


def test_versioned_checksum_idempotent(source, make_target):
    s = spec_for(UpdateType.VERSIONED_CHECKSUM)
    once = st.versioned_checksum(source, make_target(s.update_type), s).localCheckpoint()
    twice = st.versioned_checksum(source, once, s)
    assert snap(once) == snap(twice)


def test_versioned_always_writes(source, make_target):
    s = spec_for(UpdateType.VERSIONED)
    once = st.versioned(source, make_target(s.update_type), s).localCheckpoint()
    twice = st.versioned(source, once, s)
    assert twice.count() == once.count() + source.count()


# -- duplicate target keys ------------------------------------------------------
#
# Target rows that share a key: the (version_id DESC, doc_id DESC) pick
# is the row the strategy classifies; the others keep their own
# semantics per strategy. "chg" has a duplicate and is in the batch;
# "gone" and "husk" have duplicates and are absent from it (husk's
# duplicate is already a tombstone).

D_OLD = datetime(2020, 1, 1)


def dup_target_rows(ut):
    u = ut.value
    mk = lambda name, score, doc, v, dead: Row(
        name=name, score=score, doc_id=doc, update_type=u,
        write_timestamp=D_OLD, version_id=v, is_deleted=dead,
    )
    return [
        mk("same", 1.0, "d1", 7, False),
        mk("chg", 99.0, "d2", 7, False),  # pick
        mk("chg", 50.0, "d6", 3, False),  # duplicate, key in batch
        mk("gone", 4.0, "d3", 7, False),  # pick
        mk("gone", 40.0, "d7", 3, False),  # duplicate, key absent
        mk("husk", 8.0, "d9", 7, False),  # pick
        mk("husk", 80.0, "d8", 3, True),  # dead duplicate, key absent
    ]


@pytest.fixture()
def dup_source(spark):
    return spark.createDataFrame(
        [Row(name="same", score=1.0), Row(name="chg", score=2.0),
         Row(name="new", score=3.0)]
    )


def _golden(post):
    return sorted(
        (r["doc_id"], r["name"], r["score"], r["write_timestamp"], r["is_deleted"])
        for r in post.collect()
    )


def _ins_id(s, key):
    import hashlib

    return hashlib.md5(
        f"ins:{s.update_type.value}:{key}:{s.version_id}".encode()
    ).hexdigest()


def _dup_expected(s):
    """Golden post-state of :func:`dup_target_rows` under ``dup_source``."""
    ut = s.update_type
    new = (_ins_id(s, "new"), "new", 3.0, RUN_TS,
           False if ut is UpdateType.SOFT_DELETE else None)
    if ut is UpdateType.UPSERT_CHECKSUM_WITH_DELETE:
        # duplicates of keys in the batch survive; absent keys go entirely
        return sorted([
            ("d1", "same", 1.0, D_OLD, False),
            ("d2", "chg", 2.0, RUN_TS, False),
            ("d6", "chg", 50.0, D_OLD, False),
            new,
        ])
    if ut is UpdateType.SOFT_DELETE:
        # duplicates of keys in the batch are kept as they are; alive
        # duplicates of absent keys are tombstoned, dead ones untouched
        return sorted([
            ("d1", "same", 1.0, D_OLD, False),
            ("d2", "chg", 2.0, RUN_TS, False),
            ("d6", "chg", 50.0, D_OLD, False),
            ("d3", "gone", 4.0, RUN_TS, True),
            ("d7", "gone", 40.0, RUN_TS, True),
            ("d9", "husk", 8.0, RUN_TS, True),
            ("d8", "husk", 80.0, D_OLD, True),
            new,
        ])
    return sorted([
        ("d1", "same", 1.0, D_OLD, False),
        ("d2", "chg", 2.0, RUN_TS, False),
        ("d6", "chg", 50.0, D_OLD, False),
        ("d3", "gone", 4.0, D_OLD, False),
        ("d7", "gone", 40.0, D_OLD, False),
        ("d9", "husk", 8.0, D_OLD, False),
        ("d8", "husk", 80.0, D_OLD, True),
        new,
    ])


def test_upsert_checksum_duplicate_target_keys_golden(spark, dup_source):
    s = spec_for(UpdateType.UPSERT_CHECKSUM)
    target = spark.createDataFrame(dup_target_rows(s.update_type))
    assert _golden(st.upsert_checksum(dup_source, target, s)) == _dup_expected(s)


def test_upsert_checksum_with_delete_duplicate_target_keys_golden(
    spark, dup_source
):
    s = spec_for(UpdateType.UPSERT_CHECKSUM_WITH_DELETE)
    target = spark.createDataFrame(dup_target_rows(s.update_type))
    assert _golden(st.upsert_checksum_with_delete(dup_source, target, s)) == (
        _dup_expected(s)
    )


def test_soft_delete_duplicate_target_keys_golden(spark, dup_source):
    s = spec_for(UpdateType.SOFT_DELETE)
    target = spark.createDataFrame(dup_target_rows(s.update_type))
    assert _golden(st.soft_delete(dup_source, target, s)) == _dup_expected(s)


@pytest.mark.parametrize(
    "ut",
    [UpdateType.UPSERT_CHECKSUM, UpdateType.UPSERT_CHECKSUM_WITH_DELETE,
     UpdateType.SOFT_DELETE],
)
def test_duplicate_target_keys_golden_through_pipeline(spark, tmp_path, ut):
    """The same goldens through ``SyncPipeline.run`` on a committed
    store: the source is deduped (a stale ``chg`` row drops out) and
    arrives hash-partitioned on the key, so the classify join is the
    sort-merge join over the dedup's and the rank window's shuffles."""
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    s = spec_for(ut)
    store = DocumentStore(spark, str(tmp_path / "store"))
    store.commit(spark.createDataFrame(dup_target_rows(ut)))
    source = spark.createDataFrame(
        [Row(name="same", score=1.0, Created=datetime(2024, 1, 2)),
         Row(name="chg", score=2.0, Created=datetime(2024, 1, 2)),
         Row(name="chg", score=77.0, Created=datetime(2024, 1, 1)),
         Row(name="new", score=3.0, Created=datetime(2024, 1, 2))]
    )
    SyncPipeline(s, store).run(source)
    assert _golden(store.read()) == _dup_expected(s)
