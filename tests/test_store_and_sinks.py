"""DocumentStore (K1-K7, S5-S8), CSV sink (K8), spec validation, and
plan-shape regression checks (pushdown / broadcast / partial agg)."""

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.config import (
    SyncSpec,
    SyncSpecBuilder,
    UpdateType,
)
from far_finer_airtable_firestore_sync_spark.functions.canonical import Field
from far_finer_airtable_firestore_sync_spark.sources.csv_sink import (
    ordered_columns,
    write_csv,
)
from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore


@pytest.fixture()
def store(spark, tmp_path):
    return DocumentStore(spark, str(tmp_path / "store"))


def test_store_point_ops(spark, store):
    doc_id = store.add_document({"name": "a", "v": 1})
    store.add_document_with_id("fixed", {"name": "b", "v": 2})
    assert store.get_document(doc_id)["name"] == "a"
    assert store.get_document("fixed")["v"] == 2
    # K3 merge-update: untouched fields survive
    store.update_document("fixed", {"v": 9})
    d = store.get_document("fixed")
    assert d["v"] == 9 and d["name"] == "b"
    # K4 overwrite replaces the whole doc (missing fields -> null)
    store.set_document("fixed", {"name": "c"})
    d = store.get_document("fixed")
    assert d["name"] == "c" and d["v"] is None
    # K5 delete / K6 truncate
    store.delete_document(doc_id)
    assert store.get_document(doc_id) is None
    store.clear_collection()
    assert store.read().count() == 0


def test_store_queries_and_versioning(spark, store):
    for i, (ut, v) in enumerate([("a", 1), ("a", 3), ("b", 2)]):
        store.add_document_with_id(f"d{i}", {"update_type": ut, "version_id": v})
    # S6 predicate scan + S7 Firestore != semantics
    assert store.query_documents("update_type", "==", "a").count() == 2
    store.add_document_with_id("d9", {"update_type": None, "version_id": 9})
    assert store.query_documents_not_equal("update_type", "a").count() == 1
    # S8 ordered scan
    versions = [
        r["version_id"] for r in store.query_all_versions("a").collect()
    ]
    assert versions == [3, 1]
    # snapshot isolation: old version dirs remain until vacuumed
    assert len(glob.glob(os.path.join(store.root, "v-*"))) >= 4


def test_csv_sink_priority_ordering(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 2, None)], "zeta int, name string, alpha int, extra string"
    )
    order = write_csv(
        df, str(tmp_path / "out"), priority_fields=["name", "missing", "zeta"]
    )
    # priority fields first (only those present), remainder sorted
    assert order == ["name", "zeta", "alpha", "extra"]
    part = glob.glob(str(tmp_path / "out" / "*.csv"))
    header = open(part[0]).readline().strip()
    assert header == "name,zeta,alpha,extra"
    assert ordered_columns(["b", "a"]) == ["a", "b"]


def test_spec_validation():
    with pytest.raises(ValueError, match="primary_key"):
        SyncSpec(primary_key="pk", update_type=UpdateType.APPEND,
                 payload_fields=(Field("other", "string"),))
    with pytest.raises(ValueError, match="missing"):
        SyncSpecBuilder().with_primary_key("x").build()
    spec = (
        SyncSpecBuilder()
        .with_primary_key("k")
        .with_update_type(UpdateType.REPLACE)
        .with_field("k", "long")
        .with_table("t", "v")
        .build()
    )
    assert spec.with_update_type(UpdateType.APPEND).update_type == UpdateType.APPEND


# -- plan-shape regression tests (the 100 TB contract, SCALE.md) ------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_pruning_reach_scan(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter("l_shipdate < '1995-01-01'")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: only 3 columns read
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate" in plan


def test_star_join_broadcasts_dims(spark):
    import __spark_entry__ as e

    df = e.queries()["agg_revenue_by_nation"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_keep_latest_uses_partial_aggregation(spark):
    from far_finer_airtable_firestore_sync_spark.operators.dedup import keep_latest

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    latest = keep_latest(orders, "o_custkey", "o_orderdate", "o_orderkey")
    plan = _plan(latest)
    assert "partial_max_by" in plan  # map-side combine before the exchange
    assert plan.count("Exchange") == 1  # exactly one shuffle
    # the pk is the grouping column, not a struct field: a consumer
    # keyed on it (in the sync, the strategy join) reuses that shuffle
    assert latest.columns == orders.columns
    assert _plan(latest.groupBy("o_custkey").count()).count("Exchange") == 1


def test_checksum_is_codegen_not_udf(spark):
    import __spark_entry__ as e

    df = e.queries()["row_checksum"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(n)' node prefix == whole-stage-codegen'd stage
    assert "*(1) Project" in plan


def test_diff_versions_cdc(spark, store):
    store.add_document_with_id("a", {"v": 1})
    store.add_document_with_id("b", {"v": 2})
    v1 = store.current_version_dir()
    store.update_document("a", {"v": 10})
    store.delete_document("b")
    store.add_document_with_id("c", {"v": 3})
    v2 = store.current_version_dir()
    diff = {
        r["doc_id"]: (r["change_type"], r["v"])
        for r in store.diff_versions(v1, v2).collect()
    }
    assert diff == {
        "a": ("update", 10),
        "b": ("delete", None),
        "c": ("insert", 3),
    }


def test_partitioned_commit_prunes(spark, store):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(100)],
        "doc_id int, update_type string, v double",
    )
    store.commit(df, partition_by=["update_type"])
    scan = store.read().filter("update_type = 'a'")
    plan = _plan(scan)
    assert "PartitionFilters: [isnotnull(update_type" in plan
    assert scan.count() == 50


def test_table_doc_csv_roundtrip(spark, tmp_path):
    """K8's real input shape: a table-as-one-document JSON export."""
    import json

    from far_finer_airtable_firestore_sync_spark.sources.csv_sink import (
        write_table_doc_csv,
    )

    table_json = json.dumps(
        {
            "k1": {"Name": "k1", "score": 1.5, "extra": "x"},
            "k2": {"Name": "k2", "score": 2.5},
        }
    )
    order = write_table_doc_csv(
        spark, table_json, str(tmp_path / "doc_csv"), priority_fields=["Name"]
    )
    assert order == ["Name", "extra", "score"]
    part = glob.glob(str(tmp_path / "doc_csv" / "*.csv"))[0]
    lines = open(part).read().strip().splitlines()
    assert lines[0] == "Name,extra,score"
    assert sorted(lines[1:]) == ["k1,x,1.5", "k2,,2.5"]


def test_revenue_preagg_no_expand(spark):
    """Round-2 rewrite: count(distinct) became a plain count over the
    per-order pre-aggregate — the plan must have no Expand node."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["agg_revenue_by_nation"](spark, "/root/testdata/sf0.001"))
    assert "Expand" not in plan


def test_tfidf_and_contamination_broadcast_small_sides(spark):
    import __spark_entry__ as e

    q = e.queries()
    plan = _plan(q["text_tfidf_search"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan  # idf side broadcasts
    plan = _plan(q["decontaminate_benchmark"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan  # benchmark postings broadcast
    assert "SortMergeJoin" not in plan


def test_salted_aggregate_two_stage_plan(spark):
    """Salted agg = exactly two aggregation keys in sequence:
    (key, salt) partial then (key) merge; salt never escapes."""
    import __spark_entry__ as e

    df = e.queries()["salted_agg_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "_salt" not in df.columns
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 stages


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed layout: same key, same bucket count ->
    the sort-merge join runs with zero Exchange (and zero Sort) —
    write-once shuffle, per-query free co-location."""
    from pyspark.sql import Row

    from far_finer_airtable_firestore_sync_spark.sources.tables import (
        write_bucketed,
    )

    left = spark.createDataFrame([Row(k=i, a=i * 2) for i in range(1000)])
    right = spark.createDataFrame([Row(k=i, b=i * 3) for i in range(0, 1000, 2)])
    write_bucketed(left, "t_bk_left", "k", 4, path=str(tmp_path / "l"))
    write_bucketed(right, "t_bk_right", "k", 4, path=str(tmp_path / "r"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bk_left").join(spark.table("t_bk_right"), "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == 500
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("drop table if exists t_bk_left")
        spark.sql("drop table if exists t_bk_right")


def test_chunk_dedup_plan_shape(spark):
    """Digest groupBy must combine map-side (partial min) and the
    whole pipeline needs exactly 3 exchanges: spread repartition,
    digest groupBy, per-doc rebuild."""
    from far_finer_airtable_firestore_sync_spark.operators.dedup_docs import chunk_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(chunk_dedup(docs, chunk_words=10))
    assert "partial_min" in plan
    assert plan.count("Exchange") == 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_apply_near_dedup_is_broadcast_anti_join(spark):
    """Removal must not shuffle the corpus: broadcast anti-join."""
    from pyspark.sql import Row

    from far_finer_airtable_firestore_sync_spark.operators.dedup_docs import (
        apply_near_dedup,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    comps = spark.createDataFrame(
        [Row(doc_id=1, component=1), Row(doc_id=2, component=1)]
    )
    plan = _plan(apply_near_dedup(corpus, comps))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
