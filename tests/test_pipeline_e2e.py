"""End-to-end pipeline over the A1 sync fixture (FIXTURES.md §A1):
the reference's full type system + dedup edge cases through
typed projection -> null-pk filter -> keep-latest -> strategy ->
store commit, for several strategies in sequence.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.config import (
    SyncSpecBuilder,
    UpdateType,
)
from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore
from far_finer_airtable_firestore_sync_spark.sources.tables import fetch_field_types

A1_SCHEMA = (
    "Name string, Created string, notes string, score string, active string, "
    "start_date string, updated_at string, "
    "attachments array<struct<url:string, filename:string>>, "
    "tags array<string>, mystery string"
)

CATALOG = {
    "Name": "singleLineText",
    "Created": "dateTime",
    "notes": "multilineText",
    "score": "number",
    "active": "checkbox",
    "start_date": "date",
    "updated_at": "dateTime",
    "attachments": "multipleAttachments",
    "tags": "multipleSelects",
    # 'mystery' absent -> default-to-string path
}


def a1_rows():
    att = [{"url": "http://x/a.png", "filename": "a.png"}]
    return [
        # duplicate pk cluster: keep-latest by Created must pick dup-v2
        ("dup", "2024-01-01 00:00:00", "old", "1", "true", "2024-01-01",
         "2024-01-01 10:00:00", att, ["a"], "m1"),
        ("dup", "2024-02-01 00:00:00", "new", "2", "false", "2024-02-02",
         "2024-02-02 10:00:00", att, ["b"], "m2"),
        # NULL / empty pk -> skipped
        (None, "2024-01-01 00:00:00", "x", "3", "true", "2024-01-03",
         "2024-01-03 10:00:00", None, None, None),
        ("", "2024-01-01 00:00:00", "x", "4", "true", "2024-01-04",
         "2024-01-04 10:00:00", None, None, None),
        # missing Created -> treated newest (reference: now())
        ("noc", None, "no created", "5", "false", "2024-01-05",
         "2024-01-05 10:00:00", [], [], "m5"),
        # plain row, string-typed everything
        ("plain", "2024-03-01 00:00:00", " padded ", "6.5", "true",
         "2024-03-06", "2024-03-06 10:00:00", att, ["x", "y"], "m6"),
    ]


@pytest.fixture()
def a1(spark):
    return spark.createDataFrame(a1_rows(), A1_SCHEMA)


def _spec(ut):
    return (
        SyncSpecBuilder()
        .with_primary_key("Name")
        .with_update_type(ut)
        .with_field("Name", "string")
        .with_field("Created", "timestamp")
        .with_field("notes", "string")
        .with_field("score", "double")
        .with_field("active", "boolean")
        .with_field("start_date", "date")
        .with_field("updated_at", "timestamp")
        .with_field("attachments", "array<string>")
        .with_field("tags", "array<string>")
        .with_field("mystery", "string")
        .with_table("a1", "main_view")
        .with_run(datetime(2026, 1, 1), 100)
        .build()
    )


def test_full_lifecycle_upsert_then_soft_delete(spark, a1, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "store"))
    spec = _spec(UpdateType.UPSERT_CHECKSUM)
    pipe = SyncPipeline(spec, store, catalog=CATALOG, dedup_order_col="Created")
    pipe.run(a1)

    out = {r["Name"]: r.asDict() for r in store.read().collect()}
    # null/'' pks skipped; dup collapsed to latest
    assert set(out) == {"dup", "noc", "plain"}
    d = out["dup"]
    assert d["notes"] == "new" and d["score"] == 2.0 and d["active"] is False
    # type conversions landed (P1/P2 on every Airtable type)
    assert d["Created"] == datetime(2024, 2, 1)
    assert str(d["start_date"]) == "2024-02-02"
    assert d["attachments"] == ["http://x/a.png"]  # url-projected
    assert d["tags"] == ["b"]
    assert d["mystery"] == "m2"  # default-to-string passthrough
    assert isinstance(out["plain"]["score"], float)

    # second run, unchanged input -> byte-identical post-state (noop)
    v1 = store.current_version_dir()
    pipe.run(a1)
    out2 = {r["Name"]: r.asDict() for r in store.read().collect()}
    assert out2 == out
    assert store.current_version_dir() != v1  # new version, same content

    # now a shrunken batch through SOFT_DELETE: 'plain' disappears
    spec2 = _spec(UpdateType.SOFT_DELETE)
    pipe2 = SyncPipeline(spec2, store, catalog=CATALOG, dedup_order_col="Created")
    shrunk = a1.filter("Name in ('dup', 'noc') or Name is null")
    pipe2.run(shrunk)
    final = {r["Name"]: r.asDict() for r in store.read().collect()}
    # purge prologue first removes alien update_type docs... which is
    # every doc (they carry 'upsert_checksum'), so the store now holds
    # the soft-delete world: only the new batch, freshly inserted
    assert set(final) == {"dup", "noc"}
    assert all(r["update_type"] == "soft_delete" for r in final.values())
    assert all(r["is_deleted"] is False for r in final.values())


def test_versioned_lineage_across_runs(spark, a1, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "store"))
    spec = _spec(UpdateType.VERSIONED_CHECKSUM)
    pipe = SyncPipeline(spec, store, catalog=CATALOG, dedup_order_col="Created")
    pipe.run(a1)
    n1 = store.read().count()

    # change one row, re-run with a later version id
    changed = a1.withColumn(
        "score", F.when(F.col("Name") == "plain", "99").otherwise(F.col("score"))
    )
    spec2 = _spec(UpdateType.VERSIONED_CHECKSUM)
    spec2 = spec2.__class__(**{**spec2.__dict__, "version_id": 200})
    SyncPipeline(spec2, store, catalog=CATALOG, dedup_order_col="Created").run(changed)

    rows = [r.asDict() for r in store.read().collect()]
    assert len(rows) == n1 + 1  # exactly one new version row
    plain = sorted(
        (r for r in rows if r["Name"] == "plain"), key=lambda r: r["version_id"]
    )
    assert [r["latest"] for r in plain] == [False, True]
    assert plain[1]["score"] == 99.0 and plain[1]["version_id"] == 200
    # untouched keys keep exactly one latest version
    dup = [r for r in rows if r["Name"] == "dup"]
    assert len(dup) == 1 and dup[0]["latest"] is True


def test_catalog_autodetect_roundtrip(spark, a1, tmp_path):
    """fetch_field_types on a post-conversion frame reproduces a
    catalog that converts equivalently (S3 parity)."""
    from far_finer_airtable_firestore_sync_spark.functions.casts import (
        typed_projection,
    )

    typed = typed_projection(a1, CATALOG)
    derived = fetch_field_types(typed)
    assert derived["score"] == "number"
    assert derived["active"] == "checkbox"
    assert derived["start_date"] == "date"
    assert derived["tags"] == "multipleSelects"


def test_store_vacuum(spark, a1, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "store"))
    spec = _spec(UpdateType.FULL_REFRESH)
    pipe = SyncPipeline(spec, store, catalog=CATALOG, dedup_order_col="Created")
    for _ in range(4):
        pipe.run(a1)
    import glob
    import os

    assert len(glob.glob(os.path.join(store.root, "v-*"))) == 4
    removed = store.vacuum(keep_last=2)
    assert len(removed) == 2
    assert store.read().count() == 3  # current snapshot intact


@pytest.mark.parametrize("backend", ["store", "txn"])
@pytest.mark.parametrize(
    "ut", [UpdateType.VERSIONED_TABLE_CHECKSUM, UpdateType.UPSERT_TABLE_CHECKSUM]
)
def test_table_strategies_through_the_pipeline(spark, tmp_path, backend, ut):
    """M9/M10 commit through ``SyncPipeline.run`` on both backends. A
    table-document post-state has no pk column, so the run's
    observation counts its ``doc_id``s; each committed state equals
    the direct strategy call against the state committed before it."""
    from far_finer_airtable_firestore_sync_spark.operators.strategies import (
        get_strategy,
    )
    from far_finer_airtable_firestore_sync_spark.sources.backends import (
        TransactionalParquetBackend,
    )

    spec = (
        SyncSpecBuilder()
        .with_primary_key("Name")
        .with_update_type(ut)
        .with_field("Name", "string")
        .with_field("score", "double")
        .with_table("a1", "main_view")
        .with_run(datetime(2026, 1, 1), 100)
        .build()
    )
    root = str(tmp_path / "store")
    store = (
        DocumentStore(spark, root)
        if backend == "store"
        else TransactionalParquetBackend(spark, root, "doc_id")
    )
    pipe = SyncPipeline(spec, store)

    def rows(df):
        cols = sorted(df.columns)
        return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=str)

    for batch in ([("a", 1.0), ("b", 2.0)], [("a", 1.0), ("b", 3.0)]):
        source = spark.createDataFrame(batch, "Name string, score double")
        before = store.read()
        if before is None:
            before = spark.createDataFrame([], source.schema)
        expected = get_strategy(ut)(source, before, spec)
        want = rows(expected)
        n_docs = expected.select("doc_id").distinct().count()
        out = pipe.run(source)
        assert rows(store.read()) == want
        assert out.metrics["sync_out"]["rows"] == len(want)
        assert out.metrics["sync_out"]["approx_distinct_keys"] == n_docs
    # the changed second batch replaced (M10) or versioned (M9) the doc
    assert len(want) == (2 if ut is UpdateType.VERSIONED_TABLE_CHECKSUM else 1)
