"""Merge strategies M1-M10 (+APPEND) as pure post-state plan builders.

Reference: lib/UpdateStrategies.py — ten strategy classes executed as
per-record loops with N+1 Firestore point queries. Here each strategy
is a **pure function** ``(source_df, target_df, spec) -> post-state
DataFrame``: one joined, declarative plan per run. No loops, no
``collect()``; the only driver-side control flow anywhere is replaced
by an aggregate gate broadcast back into the plan (M8/M9/M10), so a
1000-executor cluster executes exactly one job per sync.

Scale design:
- every strategy is a single equi-join (or union) on the primary key —
  the natural shuffle key. The checksum classify join (M3/M4/M5/M7/M8)
  is pinned to a sort-merge join: in the sync pipeline the source is
  already hash-partitioned on the pk by the dedup aggregate, and the
  ranked target of M3/M4/M5/M7 by its window, so the join shuffles
  nothing more, where a broadcast would ship the whole target through
  the driver (see :func:`_classify`);
- M3/M4/M5 read each input ONCE: the source joins every ranked target
  row, and duplicate target keys are a CASE branch of that join, not a
  second join against ``source.select(pk).distinct()`` (which scanned
  the live feed a second time);
- checksums are codegen'd built-in expressions (functions/canonical.py)
  evaluated inside the scan stage, never in Python;
- the "any change?" gates of VERSIONED_SET / table strategies are
  1-row aggregates cross-joined back (broadcast NLJ of one row) —
  declarative counterpart of the reference's ``if changes_detected:``
  (lib/UpdateStrategies.py:304).

Determinism: ``spec.run_ts`` / ``spec.version_id`` replace
SERVER_TIMESTAMP and the module wall clock (lib/UpdateStrategies.py:25,
lib/FirestoreWrapper.py:46); inserted doc ids are content-addressed
(md5 of strategy/key/version) instead of Firestore random auto-ids —
a documented divergence required for reproducible plans.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.config import SyncSpec, UpdateType
from far_finer_airtable_firestore_sync_spark.functions.canonical import (
    SPARK,
    Field,
    checksum_sql,
    table_checksum_sql,
    table_json_agg_sql,
)

# Engine-column spark types (subset stamped varies per strategy).
_ENGINE_TYPES = {
    "doc_id": "string",
    "update_type": "string",
    "write_timestamp": "timestamp",
    "version_id": "bigint",
    "latest": "boolean",
    "is_deleted": "boolean",
    "start_date": "timestamp",
    "end_date": "timestamp",
}


def _ensure_engine_cols(df: DataFrame, cols: list[str]) -> DataFrame:
    """Add any missing engine columns as typed NULLs (schemaless-target
    parity: Firestore docs simply lack fields never written)."""
    missing = {
        c: F.lit(None).cast(_ENGINE_TYPES[c]) for c in cols if c not in df.columns
    }
    return df.withColumns(missing) if missing else df


def _pk_str(spec: SyncSpec, qualifier: str = "") -> Column:
    ref = f"{qualifier}.{spec.primary_key}" if qualifier else spec.primary_key
    return F.col(ref).cast("string")


def _new_doc_id(spec: SyncSpec, qualifier: str = "") -> Column:
    """Content-addressed id for inserted docs: md5('ins:<u>:<pk>:<v>')."""
    return F.md5(
        F.concat(
            F.lit(f"ins:{spec.update_type.value}:"),
            _pk_str(spec, qualifier),
            F.lit(f":{spec.version_id}"),
        )
    )


def _run_ts(spec: SyncSpec) -> Column:
    return F.lit(spec.run_ts.replace(tzinfo=None)).cast("timestamp")


def _checksum(spec: SyncSpec) -> Column:
    return F.expr(checksum_sql(spec.payload_fields, SPARK))


def _ensure_payload_cols(df: DataFrame, spec: SyncSpec) -> DataFrame:
    """Backfill payload columns absent from one side as typed NULLs.

    Schema-evolution parity: the reference's checksum skips keys absent
    from a record (lib/DataProcessor.py:111 ``if k in record``), so a
    payload field added to the spec between runs degrades gracefully —
    old target docs just checksum-differ and get updated. Without this,
    referencing the new column on the stored target would raise
    AnalysisException. Canonical NULL renders as JSON ``null``, so the
    checksum stays well-defined and differs from any non-null source
    value, which is exactly the update trigger we want.
    """
    missing = {
        f.name: F.lit(None).cast(f.kind)
        for f in spec.payload_fields
        if f.name not in df.columns
    }
    return df.withColumns(missing) if missing else df


def purge_other_update_types(target: DataFrame, spec: SyncSpec) -> DataFrame:
    """Prologue of every strategy except VERSIONED_CHECKSUM: delete
    target docs whose update_type *differs* (lib/UpdateStrategies.py:31-34).

    Firestore's ``!=`` excludes docs missing the field, so NULL
    update_type rows survive (SURVEY.md S7 note) — and a target that
    has never been written (no ``update_type`` column at all, e.g. a
    first-ever sync) purges nothing.
    """
    if "update_type" not in target.columns:
        return target
    u = F.col("update_type")
    return target.filter(u.isNull() | (u == spec.update_type.value))



def _union(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# Row-level strategies
# ---------------------------------------------------------------------------


def full_refresh(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """M1 (lib/UpdateStrategies.py:44-55): truncate target, insert all."""
    return source.withColumns(
        {
            "doc_id": _new_doc_id(spec),
            "update_type": F.lit(spec.update_type.value),
            "write_timestamp": _run_ts(spec),
        }
    )


def replace(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """M2 (lib/UpdateStrategies.py:57-72): delete matching keys, insert.

    Target-only rows survive untouched; every source row is rewritten
    with a fresh stamp. The reference's per-record delete+insert loop
    collapses to one anti-join + union.
    """
    t = purge_other_update_types(target, spec)
    kept = t.join(
        source.select(spec.primary_key).distinct(),
        on=spec.primary_key,
        how="left_anti",
    )
    inserted = full_refresh(source, target, spec)
    return _union(kept, inserted)


def append(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """APPEND (reference README.md:58-59, unimplemented upstream):
    insert-if-absent; existing keys never touched."""
    t = purge_other_update_types(target, spec)
    new_rows = source.join(
        t.select(spec.primary_key).distinct(), on=spec.primary_key, how="left_anti"
    ).withColumns(
        {
            "doc_id": _new_doc_id(spec),
            "update_type": F.lit(spec.update_type.value),
            "write_timestamp": _run_ts(spec),
            "version_id": F.lit(spec.version_id).cast("bigint"),
        }
    )
    return _union(t, new_rows)


def _classify(
    source: DataFrame, target: DataFrame, spec: SyncSpec, how: str = "full_outer"
) -> DataFrame:
    """Join source and target on pk with per-side checksums.

    Output columns: ``s.*``/``t.*`` qualified, plus ``_s_cs``/``_t_cs``
    and presence flags. Checksums are computed *before* the join so the
    expressions resolve unambiguously and evaluate in the scan stage.

    The join is a shuffle-merge join (``merge`` hint on the target).
    In the sync pipeline both inputs arrive hash-partitioned on the pk
    already (the source by :func:`~..dedup.keep_latest`'s aggregate,
    the target by :func:`_pick_one_per_key`'s window), so the join adds
    no exchange. Left to itself, Spark broadcasts a target under the
    broadcast threshold (as planned, or as AQE measures it once the
    shuffles ran): one more job, and the whole target collected and
    hashed on the driver. A source that is not pre-shuffled (a direct
    call) trades the target's broadcast for its own shuffle.
    """
    # backfill is TARGET-only: a stored doc predating a spec field is
    # the graceful schema-evolution case; a SOURCE feed missing a spec
    # payload column is an upstream regression that must fail loudly
    # (backfilling it would silently overwrite real target values
    # with NULL on every matched row)
    s = source.withColumn("_s_cs", _checksum(spec)).alias("s")
    t = (
        _ensure_payload_cols(target, spec)
        .withColumn("_t_cs", _checksum(spec))
        .hint("merge")
        .alias("t")
    )
    return s.join(
        t, F.col(f"s.{spec.primary_key}") == F.col(f"t.{spec.primary_key}"), how
    )


def upsert_checksum(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """M4 (lib/UpdateStrategies.py:214-248): checksum-guarded upsert.

    matched & checksum differs -> update payload + stamps (doc_id kept);
    matched & unchanged       -> target row unchanged;
    source-only               -> insert;
    target-only               -> unchanged.
    """
    return _upsert_core(source, target, spec, delete_missing=False)


def upsert_checksum_with_delete(
    source: DataFrame, target: DataFrame, spec: SyncSpec
) -> DataFrame:
    """M5 (lib/UpdateStrategies.py:250-294): M4 + hard-delete keys
    absent from the source batch (the reference's second loop = our
    dropping of target-only rows)."""
    return _upsert_core(source, target, spec, delete_missing=True)


def _pick_one_per_key(t: DataFrame, spec: SyncSpec) -> DataFrame:
    """Deterministic stand-in for the reference's arbitrary
    ``existing_docs[0]`` pick (lib/UpdateStrategies.py:85,223,262 —
    SURVEY.md §7 hard-part #2): rank target rows per key by
    (version_id DESC NULLS LAST, doc_id DESC); ``_rn = 1`` is the row a
    point-update would touch, ``_rn > 1`` are untouched duplicates.

    One window shuffle on the pk — the same key the strategy join uses:
    :func:`_classify` plans that join as a sort-merge join, which reads
    the window's partitioning as it is.
    """
    from pyspark.sql import Window

    order = [F.coalesce(F.col("version_id"), F.lit(0)).desc(), F.col("doc_id").desc()] \
        if "version_id" in t.columns else [F.col("doc_id").desc()]
    w = Window.partitionBy(spec.primary_key).orderBy(*order)
    return t.withColumn("_rn", F.row_number().over(w))



def _is_dup() -> Column:
    """True on the classify join's rows whose target side is a
    duplicate (``_rn > 1``) of a key's picked row — see
    :func:`_pick_one_per_key`."""
    return F.coalesce(F.col("t._rn") > 1, F.lit(False))


def _classified_post_state(
    j: DataFrame,
    spec: SyncSpec,
    touch: Column,
    stamps: dict[str, Column],
    t_columns: list[str],
) -> DataFrame:
    """ONE pass over the full-outer classify join producing the
    post-state of every row class with per-column CASEs:

    - matched & touch: payload from s, stamps overwritten, other target
      columns survive (Firestore merge=True parity);
    - matched & !touch: target row unchanged;
    - source-only: insert (payload + new doc_id + stamps);
    - target-only: target row unchanged (caller filters if deleting);
    - duplicate target row (``_rn > 1``): unchanged, whether or not
      its key is in the batch.

    This is THE scale shape: a branched union would re-shuffle source
    and target once per branch (measured: 7 exchanges for M4); the
    single-join form needs exactly one exchange per join side.
    """
    pk = spec.primary_key
    s_present = F.col(f"s.{pk}").isNotNull()
    t_present = F.col(f"t.{pk}").isNotNull()
    dup = _is_dup()
    payload_names = set(spec.payload_names)
    out: list[Column] = []
    for c in t_columns:
        if c in payload_names:
            val = (
                F.when(s_present & t_present & touch, F.col(f"s.{c}"))
                .when(s_present & ~t_present, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
            )
        elif c == "doc_id":
            val = F.when(t_present, F.col("t.doc_id")).otherwise(
                _new_doc_id(spec, "s")
            )
        elif c in stamps:
            val = (
                F.when(s_present & t_present & touch, stamps[c])
                .when(s_present & ~t_present, stamps[c])
                .otherwise(F.col(f"t.{c}"))
            )
        else:
            val = F.col(f"t.{c}")
        out.append(F.when(dup, F.col(f"t.{c}")).otherwise(val).alias(c))
    return j.select(*out, s_present.alias("_s_present"))


def _upsert_core(
    source: DataFrame, target: DataFrame, spec: SyncSpec, delete_missing: bool
) -> DataFrame:
    """M4/M5 as one classify join of the source against EVERY target
    row, ranked by :func:`_pick_one_per_key`: the picked row (or no
    row) is classified, duplicates pass through unchanged. Source and
    target are each scanned once.

    Source keys are unique here (the pipeline's keep-latest dedup runs
    first); a duplicated source key would repeat its matched target
    rows, picked and duplicate alike."""
    t = _ensure_payload_cols(
        _ensure_engine_cols(
            purge_other_update_types(target, spec),
            ["doc_id", "update_type", "write_timestamp", "version_id"],
        ),
        spec,
    )
    j = _classify(source, _pick_one_per_key(t, spec), spec)
    stamps = {
        "update_type": F.lit(spec.update_type.value),
        "write_timestamp": _run_ts(spec),
        "version_id": F.lit(spec.version_id).cast("bigint"),
    }
    merged = _classified_post_state(
        j, spec, F.col("_s_cs") != F.col("_t_cs"), stamps, t.columns
    )
    if delete_missing:
        # M5's second loop deletes every doc whose key is absent from
        # the batch (lib/UpdateStrategies.py:289-294) — duplicates of
        # *present* keys survive (their pk is in processed_records),
        # and they are exactly the duplicate rows the join matched.
        merged = merged.filter(F.col("_s_present"))
    return merged.drop("_s_present")


def soft_delete(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """M3 (lib/UpdateStrategies.py:74-118): checksum upsert that
    resurrects soft-deleted matches and tombstones target-only keys.

    matched & (checksum differs OR was deleted) -> update, is_deleted=false;
    matched & unchanged & alive                 -> unchanged;
    source-only                                 -> insert, is_deleted=false;
    target-only & alive -> is_deleted=true + fresh write_timestamp
                           (payload kept, lib/UpdateStrategies.py:115);
    target-only & dead  -> unchanged.

    One classify join of the source against every target row ranked by
    :func:`_pick_one_per_key`, like :func:`_upsert_core`: source and
    target are each scanned once, and a duplicate (``_rn > 1``) target
    row is never written — kept as it is when its key is in the batch,
    tombstoned when alive and absent from it.
    """
    t = _ensure_payload_cols(
        _ensure_engine_cols(
            purge_other_update_types(target, spec),
            ["doc_id", "update_type", "write_timestamp", "is_deleted"],
        ),
        spec,
    )
    pk = spec.primary_key
    j = _classify(source, _pick_one_per_key(t, spec), spec)
    s_present = F.col(f"s.{pk}").isNotNull()
    t_present = F.col(f"t.{pk}").isNotNull()
    dup = _is_dup()
    was_deleted = F.coalesce(F.col("t.is_deleted"), F.lit(False))
    # a duplicate is never written, but the tombstone branch still
    # reaches it (the reference's second loop visits all docs)
    write = ~dup & s_present & (
        ~t_present | (F.col("_s_cs") != F.col("_t_cs")) | was_deleted
    )
    t_only_alive = ~s_present & ~was_deleted  # second loop (:112-118)

    payload_names = set(spec.payload_names)
    out: list[Column] = []
    for c in t.columns:
        if c in payload_names:
            val = F.when(write, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        elif c == "doc_id":
            val = F.when(t_present | dup, F.col("t.doc_id")).otherwise(
                _new_doc_id(spec, "s")
            )
        elif c == "update_type":
            val = F.when(write, F.lit(spec.update_type.value)).otherwise(
                F.col("t.update_type")
            )
        elif c == "write_timestamp":
            # fresh stamp on writes AND on tombstoning (:115)
            val = F.when(write | t_only_alive, _run_ts(spec)).otherwise(
                F.col("t.write_timestamp")
            )
        elif c == "is_deleted":
            val = (
                F.when(write, F.lit(False))
                .when(t_only_alive, F.lit(True))
                .otherwise(F.col("t.is_deleted"))
            )
        else:
            val = F.col(f"t.{c}")
        out.append(val.alias(c))
    return j.select(*out)


def versioned(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """M6 (lib/UpdateStrategies.py:121-139): unconditional SCD-2 run —
    flip every existing doc's ``latest`` to false, append the whole
    batch as the new version (start_date=run_ts, end_date=NULL)."""
    t = _ensure_engine_cols(
        purge_other_update_types(target, spec),
        ["doc_id", "update_type", "write_timestamp", "version_id", "latest",
         "start_date", "end_date"],
    ).withColumn("latest", F.lit(False))
    new_rows = source.withColumns(
        {
            "doc_id": _new_doc_id(spec),
            "update_type": F.lit(spec.update_type.value),
            "write_timestamp": _run_ts(spec),
            "version_id": F.lit(spec.version_id).cast("bigint"),
            "start_date": _run_ts(spec),
            "end_date": F.lit(None).cast("timestamp"),
            "latest": F.lit(True),
        }
    )
    return _union(t, new_rows)


def versioned_checksum(
    source: DataFrame, target: DataFrame, spec: SyncSpec
) -> DataFrame:
    """M7 (lib/UpdateStrategies.py:141-211): per-key SCD-2 with checksum
    guard. NOTE: the reference overrides ``update()`` WITHOUT the
    purge prologue (:193-211), and its delete branch is commented out
    (:203-209) — both preserved here.

    For each source key: resolve the latest existing version = max
    ``version_id`` (missing -> 0, :151); if no version exists or its
    checksum differs, append a new version (latest=true) and flip
    ``latest`` off on that key's previously-latest rows.
    """
    t = _ensure_engine_cols(
        target,
        ["doc_id", "update_type", "write_timestamp", "version_id", "latest"],
    )
    pk = spec.primary_key
    # Latest existing version per key via the same ranked window the
    # flip pass reads — identical subtrees let Spark reuse the t-side
    # exchange (verified: ReusedExchange in the no-broadcast plan).
    # Deterministic (version_id, doc_id) tie-break replaces the
    # reference's arbitrary existing_docs sort (SURVEY.md hard-part #2).
    ranked = _pick_one_per_key(t, spec)
    latest_per_key = ranked.filter(F.col("_rn") == 1).drop("_rn")
    j = _classify(source, latest_per_key, spec, how="left_outer")
    t_present = F.col(f"t.{pk}").isNotNull()
    changed_keys = (
        j.filter(~t_present | (F.col("_s_cs") != F.col("_t_cs")))
        .select(F.col(f"s.{pk}").alias(pk))
    )

    new_versions = source.join(changed_keys, on=pk, how="left_semi").withColumns(
        {
            "doc_id": _new_doc_id(spec),
            "update_type": F.lit(spec.update_type.value),
            "write_timestamp": _run_ts(spec),
            "version_id": F.lit(spec.version_id).cast("bigint"),
            "latest": F.lit(True),
        }
    )
    # Flip latest=false on previously-latest rows of changed keys only
    # (:181-187 flips docs with latest=true among that key's versions).
    flip = F.coalesce(F.col("latest"), F.lit(False)) & F.col("_chg").isNotNull()
    old = (
        ranked.drop("_rn")
        .join(
            changed_keys.withColumn("_chg", F.lit(1)),
            on=pk,
            how="left_outer",
        )
        .withColumn("latest", F.when(flip, F.lit(False)).otherwise(F.col("latest")))
        .drop("_chg")
    )
    return _union(old, new_versions)


def versioned_set(source: DataFrame, target: DataFrame, spec: SyncSpec) -> DataFrame:
    """M8 (lib/UpdateStrategies.py:296-345): all-or-nothing versioned
    set. If ANY difference exists between the batch and the current
    latest set (new key, changed checksum, or deleted key), flip every
    latest doc off and append the entire batch as one new version;
    otherwise no-op.

    The reference's driver-side ``if changes_detected:`` (:304) becomes
    a 1-row aggregate gate cross-joined into the union of the old rows
    and the batch: one declarative plan, broadcast-safe at any scale.
    One join, so the gate is computed and broadcast once; a gate
    joined into each branch is filtered differently per branch and
    computed twice.
    """
    t = _ensure_engine_cols(
        purge_other_update_types(target, spec),
        ["doc_id", "update_type", "write_timestamp", "version_id", "latest"],
    )
    t_latest = t.filter(F.coalesce(F.col("latest"), F.lit(False)))
    j = _classify(source, t_latest, spec)
    pk = spec.primary_key
    s_present = F.col(f"s.{pk}").isNotNull()
    t_present = F.col(f"t.{pk}").isNotNull()
    diff = (
        (~s_present)
        | (~t_present)
        | (F.col("_s_cs") != F.col("_t_cs"))
    )
    gate = j.agg(
        (F.count_if(diff) > 0).alias("_changed")
    )  # 1 row; broadcast cross join below

    new_rows = source.withColumns(
        {
            "doc_id": _new_doc_id(spec),
            "update_type": F.lit(spec.update_type.value),
            "write_timestamp": _run_ts(spec),
            "version_id": F.lit(spec.version_id).cast("bigint"),
            "latest": F.lit(True),
        }
    )
    is_new = F.col("_new")
    return (
        _union(
            t.withColumn("_new", F.lit(False)),
            new_rows.withColumn("_new", F.lit(True)),
        )
        .crossJoin(F.broadcast(gate))
        # the batch lands only on a change; on a change every old row
        # stops being latest
        .filter(~is_new | F.col("_changed"))
        .withColumn(
            "latest",
            F.when(~is_new & F.col("_changed"), F.lit(False)).otherwise(
                F.col("latest")
            ),
        )
        .drop("_new", "_changed")
    )


# ---------------------------------------------------------------------------
# Table-as-one-document strategies
# ---------------------------------------------------------------------------

TABLE_DOC_COLUMNS = [
    "doc_id",
    "update_type",
    "write_timestamp",
    "version_id",
    "table_checksum",
    "table_data",
    "metadata_name",
    "metadata_view",
    "latest",
]


def build_table_doc(source: DataFrame, spec: SyncSpec) -> DataFrame:
    """Pivot the whole source batch into ONE document row.

    ``table_data`` is the canonical pk-keyed JSON of the table (the
    engine's serialization of the reference's nested map,
    lib/UpdateStrategies.py:434-437) and ``table_checksum`` the MD5 over
    ``{"data": ..., "metadata": ...}`` (lib/DataProcessor.py:150-168).

    Single-row aggregate by design — same cardinality cap as one
    Firestore document (SURVEY.md §7 hard-part #5); the row-level
    strategies remain the 100 TB path.

    Built with the DataFrame API (no temp views) so concurrent
    table-doc builds in one SparkSession cannot race or leak catalog
    entries.
    """
    tj = table_json_agg_sql(spec.payload_fields, spec.primary_key)
    tc = table_checksum_sql("table_data", spec.table_name, spec.view_name)
    return (
        source.filter(F.col(spec.primary_key).isNotNull())
        .agg(F.expr(tj).alias("table_data"))
        .select(
            "table_data",
            F.expr(tc).alias("table_checksum"),
            F.lit(spec.table_name).alias("metadata_name"),
            F.lit(spec.view_name).cast("string").alias("metadata_view"),
        )
    )


def versioned_table_checksum(
    source: DataFrame, target: DataFrame, spec: SyncSpec
) -> DataFrame:
    """M9 (lib/UpdateStrategies.py:451-481): append a new table-doc
    version iff the table checksum changed vs the latest stored
    version; flip old ``latest`` flags."""
    t = target
    for c in TABLE_DOC_COLUMNS:
        if c not in t.columns:
            typ = "string" if c in ("doc_id", "update_type", "table_checksum",
                                    "table_data", "metadata_name", "metadata_view") else _ENGINE_TYPES.get(c, "string")
            t = t.withColumn(c, F.lit(None).cast(typ))
    t = purge_other_update_types(t, spec)
    doc = build_table_doc(source, spec)

    # Latest stored version's checksum (query_all_versions + [0],
    # lib/UpdateStrategies.py:455-457): max_by(version_id, doc_id).
    latest_cs = t.agg(
        F.max_by(
            F.col("table_checksum"),
            F.struct(F.coalesce(F.col("version_id"), F.lit(0)), F.col("doc_id")),
        ).alias("_latest_cs")
    )
    gate = (
        doc.crossJoin(F.broadcast(latest_cs))
        .select(
            (
                F.col("_latest_cs").isNull()
                | (F.col("_latest_cs") != F.col("table_checksum"))
            ).alias("_changed")
        )
    )
    old = (
        t.crossJoin(F.broadcast(gate))
        .withColumn(
            "latest",
            F.when(
                F.col("_changed") & F.coalesce(F.col("latest"), F.lit(False)),
                F.lit(False),
            ).otherwise(F.col("latest")),
        )
        .drop("_changed")
    )
    new_row = (
        doc.crossJoin(F.broadcast(gate))
        .filter(F.col("_changed"))
        .drop("_changed")
        .withColumns(
            {
                "doc_id": F.md5(
                    F.concat(
                        F.lit(f"ins:{spec.update_type.value}:"),
                        F.col("table_checksum"),
                        F.lit(f":{spec.version_id}"),
                    )
                ),
                "update_type": F.lit(spec.update_type.value),
                "write_timestamp": _run_ts(spec),
                "version_id": F.lit(spec.version_id).cast("bigint"),
                "latest": F.lit(True),
            }
        )
    )
    return _union(old.select(*TABLE_DOC_COLUMNS), new_row.select(*TABLE_DOC_COLUMNS))


def upsert_table_checksum(
    source: DataFrame, target: DataFrame, spec: SyncSpec
) -> DataFrame:
    """M10 (lib/UpdateStrategies.py:484-522): one doc keyed by table
    name, replaced wholesale iff the table checksum changed
    (set_document = full replace, lib/FirestoreWrapper.py:143-169)."""
    cols = [c for c in TABLE_DOC_COLUMNS if c != "latest"]
    t = target
    for c in cols:
        if c not in t.columns:
            typ = _ENGINE_TYPES.get(c, "string")
            t = t.withColumn(c, F.lit(None).cast(typ))
    t = purge_other_update_types(t, spec)
    doc = build_table_doc(source, spec)

    existing_cs = t.filter(F.col("doc_id") == spec.table_name).agg(
        F.max(F.col("table_checksum")).alias("_existing_cs"),
        F.count(F.lit(1)).alias("_n"),
    )
    gate = (
        doc.crossJoin(F.broadcast(existing_cs))
        .select(
            (
                (F.col("_n") == 0)
                | F.col("_existing_cs").isNull()
                | (F.col("_existing_cs") != F.col("table_checksum"))
            ).alias("_changed")
        )
    )
    kept = (
        t.crossJoin(F.broadcast(gate))
        .filter(
            F.coalesce(F.col("doc_id") != spec.table_name, F.lit(True))
            | ~F.col("_changed")
        )
        .drop("_changed")
    )
    new_row = (
        doc.crossJoin(F.broadcast(gate))
        .filter(F.col("_changed"))
        .drop("_changed")
        .withColumns(
            {
                "doc_id": F.lit(spec.table_name),
                "update_type": F.lit(spec.update_type.value),
                "write_timestamp": _run_ts(spec),
                "version_id": F.lit(spec.version_id).cast("bigint"),
            }
        )
    )
    return _union(kept.select(*cols), new_row.select(*cols))


# ---------------------------------------------------------------------------
# Registry (factory parity: lib/UpdateStrategies.py:528-551)
# ---------------------------------------------------------------------------

StrategyFn = Callable[[DataFrame, DataFrame, SyncSpec], DataFrame]

_STRATEGIES: dict[UpdateType, StrategyFn] = {
    UpdateType.FULL_REFRESH: full_refresh,
    UpdateType.REPLACE: replace,
    UpdateType.APPEND: append,
    UpdateType.SOFT_DELETE: soft_delete,
    UpdateType.UPSERT_CHECKSUM: upsert_checksum,
    UpdateType.UPSERT_CHECKSUM_WITH_DELETE: upsert_checksum_with_delete,
    UpdateType.VERSIONED: versioned,
    UpdateType.VERSIONED_CHECKSUM: versioned_checksum,
    UpdateType.VERSIONED_SET: versioned_set,
    UpdateType.VERSIONED_TABLE_CHECKSUM: versioned_table_checksum,
    UpdateType.UPSERT_TABLE_CHECKSUM: upsert_table_checksum,
}


def get_strategy(update_type: UpdateType) -> StrategyFn:
    """Factory dispatch (lib/UpdateStrategies.py:542-547)."""
    fn = _STRATEGIES.get(update_type)
    if fn is None:
        raise ValueError(f"Unsupported update type: {update_type}")
    return fn


def register_strategy(update_type: UpdateType, fn: StrategyFn) -> None:
    """Extension point (lib/UpdateStrategies.py:549-551)."""
    _STRATEGIES[update_type] = fn
