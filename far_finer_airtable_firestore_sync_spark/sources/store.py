"""DocumentStore: a parquet-backed keyed document collection (K1-K7).

Reference: ``FirestoreWrapper`` (lib/FirestoreWrapper.py:17-169) — a
mutable keyed collection with point get/set/delete, predicate queries,
ordered scans, and atomic batched writes.

Spark-first equivalent: a **versioned parquet table**. Every mutation
is expressed as a *post-state DataFrame* and committed by writing a new
immutable version directory, then atomically flipping a pointer file —
read-modify-overwrite with snapshot isolation, the plain-parquet
analog of a Delta commit (Delta itself is not in this image; the
interface is MERGE-shaped so a Delta backend can slot in).

Point ops (K1-K5) are provided for API parity but implemented as plan
rewrites over the whole post-state; at scale callers should use the
strategy builders (one MERGE-shaped plan per batch) instead of point
mutations — the anti-pattern SURVEY.md §4 flags in the reference.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
import uuid
from typing import Any, Optional
from urllib.parse import unquote

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_POINTER = "_LATEST"
#: per-commit change sidecar (the Delta CDF _change_data shape): when
#: a commit opts in (``cdf=True``), the row-level changes THAT COMMIT
#: introduced are written as parquet under ``<version>/_changes/`` in
#: the ``diff_frames(include_old=True)`` schema — what the streaming
#: CDF source (sources.cdf_source) tails without ever re-diffing.
_CHANGES_DIR = "_changes"
#: marker file dropped into a version directory whose data files do
#: NOT all share one schema — a schema-evolution MERGE links the old
#: narrow files and appends wide images (rewriting 100 TB of untouched
#: rows to add a column would defeat the DV design). Readers of a
#: marked version must parquet-footer-merge (``mergeSchema``) instead
#: of trusting one footer: without it Spark anchors on an arbitrary
#: file and silently drops (or fails on) the evolved columns. The
#: marker travels with ``_link_tree`` (sidecars copy), so DML commits
#: over a mixed version stay mixed; ``compact``/``optimize_zorder``
#: rewrite one uniform schema and naturally shed it.
_MIXED_SCHEMA_MARKER = "_mixed_schema"


#: footer key-value entry where Spark's parquet writer stores the row
#: schema (as ``StructType`` JSON) in every file it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: footer key naming the Spark version that wrote a file; with it a
#: reader takes dates and timestamps as proleptic Gregorian whatever
#: its rebase conf says
_SPARK_VERSION_KEY = b"org.apache.spark.version"


def _footer_schema(path: str) -> Optional[T.StructType]:
    """The schema Spark would infer for a flat Spark-written parquet
    directory, read from ONE footer on the driver — without it, every
    DataFrame built over the directory runs Spark's schema inference
    as its own 1-task job. The first (sorted) non-hidden ``.parquet``
    file's Spark row schema is the answer. None — let Spark infer —
    when the directory is missing, has a non-hidden subdirectory
    (hive partitions: Spark types the partition columns from the
    directory names), has no data file, or its footer carries no
    Spark schema (a foreign writer)."""
    import pyarrow.parquet as pq

    try:
        with os.scandir(path) as it:
            entries = [e for e in it if not e.name.startswith(("_", "."))]
    except OSError:
        return None
    if any(e.is_dir() for e in entries):
        return None
    files = sorted(e.name for e in entries if e.name.endswith(".parquet"))
    if not files:
        return None
    try:
        meta = pq.read_metadata(os.path.join(path, files[0])).metadata
    except OSError:  # swapped away since the listing (a DV sidecar)
        return None
    raw = (meta or {}).get(_SPARK_SCHEMA_KEY)
    return None if raw is None else T.StructType.fromJson(json.loads(raw))


def _version_reader(spark: SparkSession, version_dir: str):
    """The parquet reader for a Spark-written store directory (a
    committed version or one of its sidecars): footer-merging when
    the directory is marked mixed-schema (see
    :data:`_MIXED_SCHEMA_MARKER`) — mergeSchema reads every footer,
    which is wasted driver work on the overwhelmingly common uniform
    version — else given the schema of its own footer
    (:func:`_footer_schema`) so Spark plans no inference job, else
    plain (hive-partitioned or foreign-written: Spark infers)."""
    reader = spark.read
    if os.path.exists(os.path.join(version_dir, _MIXED_SCHEMA_MARKER)):
        return reader.option("mergeSchema", "true")
    schema = _footer_schema(version_dir)
    return reader if schema is None else reader.schema(schema)


def _new_version_dir_name(epoch_ms: int) -> str:
    """Format a version directory name: ``v-<epochms>-<uuid8>``.

    The single definition shared with :func:`version_commit_ms` — the
    commit epoch is part of the store's on-disk contract (time travel,
    history, the change feed all parse it back), so format and parse
    must never drift apart (r7 ADVICE: they were silently coupled
    through two hand-rolled f-string/split sites)."""
    return f"v-{epoch_ms}-{uuid.uuid4().hex[:8]}"


def version_commit_ms(version_dir: str) -> int:
    """Parse the commit epoch-ms out of a version directory name
    produced by :func:`_new_version_dir_name`."""
    base = os.path.basename(version_dir)
    try:
        prefix, ms, _hex = base.split("-", 2)
        if prefix != "v":
            raise ValueError(base)
        return int(ms)
    except ValueError as exc:  # wrong shape or non-numeric ms
        raise ValueError(
            f"not a store version directory name: {base!r} "
            "(expected 'v-<epochms>-<hex>')"
        ) from exc


class ConcurrentCommitError(RuntimeError):
    """The store's pointer moved between read() and commit()."""


def _write_json_durable(tmp_path: str, obj) -> None:
    """Write ``obj`` as JSON to ``tmp_path`` and fsync it — the durable
    first half of every metadata publish (pointer flip, CAS log
    record, ``_last_checkpoint`` hint): the caller's rename or link
    that follows must never expose a file whose bytes are still only
    in the page cache."""
    with open(tmp_path, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())


def _fsync_dir(path: str) -> None:
    """fsync a directory — the durable second half of a rename: the
    new entry survives a crash only once its directory is synced."""
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _run_concurrently(*thunks) -> None:
    """Run independent Spark write actions from a small thread pool
    (guide §2.6 — actions are only sequential because the driver calls
    them sequentially): a DML commit's appended-images write and CDF
    sidecar write both read the SAME cached matched sliver and write
    DISJOINT directories, so overlapping them saves one job's worth of
    scheduling + planning latency per commit. Callers only pass
    order-independent writes (the deletion-vector no-op check and the
    mask-before-append contract are satisfied before these run: the
    one-pass positions forms never scan the commit directory). Every
    thunk finishes before anything propagates — the caller's
    directory-cleanup guard then sees no in-flight writer — and the
    first failure is raised with every other failure attached as a
    note, so no diagnostic is lost."""
    if not thunks:
        return
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        for other in errors[1:]:
            errors[0].add_note(
                f"concurrent write also failed: {type(other).__name__}: {other}"
            )
        raise errors[0]


class DocumentStore:
    """Keyed document collection over versioned parquet directories.

    Concurrency contract: **single writer per store root**. ``commit``
    is last-writer-wins — two concurrent commits that read the same
    base snapshot will both succeed and the later pointer flip silently
    discards the earlier post-state; ``vacuum`` may likewise remove a
    version directory a concurrently-built lazy plan still reads.
    Callers needing detection can pass ``expected_version=
    store.current_version_dir()`` captured at read time: the commit
    then fails with :class:`ConcurrentCommitError` if the pointer moved
    (optimistic concurrency; the flip itself remains non-transactional
    on plain parquet — a Delta backend would close that gap).
    """

    def __init__(self, spark: SparkSession, root: str, key_col: str = "doc_id"):
        self.spark = spark
        self.root = root
        self.key_col = key_col
        os.makedirs(root, exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def current_version_dir(self) -> Optional[str]:
        try:
            with open(self._pointer_path()) as fh:
                rel = json.load(fh)["version_dir"]
            return os.path.join(self.root, rel)
        except FileNotFoundError:
            return None

    def read(self) -> Optional[DataFrame]:
        """Current snapshot, or None if the store is empty. Deletion
        vectors, when the version carries them, are applied — every
        store read path serves ONE consistent view (r8 VERDICT #1;
        reference analog lib/FirestoreWrapper.py:72-100)."""
        vd = self.current_version_dir()
        if vd is None:
            return None
        return self.read_version(vd)

    def read_or_empty(self, like: DataFrame) -> DataFrame:
        """Current snapshot, or an empty frame shaped like ``like``."""
        df = self.read()
        if df is not None:
            return df
        return self.spark.createDataFrame([], like.schema)

    def current_tag(self) -> Optional[str]:
        """The ``tag`` recorded by the last commit (None if untagged or
        the store is empty) — see ``commit(tag=...)``.

        NOTE: this is a single last-commit slot — ANY interleaved commit
        (another stream, or an untagged batch write) erases it. Replay
        skipping must use :meth:`last_txn`, which survives interleaving
        because the per-app map is carried forward across commits."""
        try:
            with open(self._pointer_path()) as fh:
                return json.load(fh).get("tag")
        except FileNotFoundError:
            return None

    def last_txn(self, app_id: str) -> Optional[str]:
        """Last ``txn`` version committed under ``app_id`` (the Delta
        txnAppId/txnVersion pattern), or None. Unlike ``current_tag``
        the per-app map is merged forward on every commit, so a commit
        by a different writer (or an untagged one) cannot erase another
        stream's replay marker."""
        try:
            with open(self._pointer_path()) as fh:
                return json.load(fh).get("txns", {}).get(app_id)
        except FileNotFoundError:
            return None

    def commit(
        self,
        post_state: DataFrame,
        partition_by: Optional[list[str]] = None,
        expected_version: Optional[str] = None,
        tag: Optional[str] = None,
        txn: Optional[tuple[str, str]] = None,
        cdf: bool = False,
        cdf_empty: bool = False,
    ) -> str:
        """Write ``post_state`` as a new immutable version and flip the
        pointer — the atomic 'batch commit' (K7 analog,
        lib/FirestoreWrapper.py:102-123).

        ``partition_by`` lays the version out hive-partitioned so later
        scans filtered on those columns prune whole directories
        (PartitionFilters in the read plan) — the parquet analog of the
        reference's server-side predicate pushdown at 100 TB scale.

        ``txn=(app_id, version)`` rides the pointer flip atomically —
        the Delta txnAppId/txnVersion pattern: a streaming writer stamps
        each commit with its (query, epoch) id and skips a replayed
        epoch whose version is already recorded (``last_txn``), making
        non-idempotent strategies (APPEND) exactly-once under
        foreachBatch retries. The per-app map is carried forward from
        the prior pointer, so commits interleaved from OTHER writers
        (or untagged commits) never erase this stream's marker.
        ``tag`` is the legacy single-slot variant — last commit wins,
        safe only under strict single-writer ownership.

        ``cdf=True`` additionally records THIS COMMIT's row-level
        changes as a ``_changes/`` parquet sidecar inside the new
        version (the Delta Change-Data-Feed ``_change_data`` shape):
        the committed snapshot is diffed against the predecessor
        (``diff_frames(include_old=True)`` — pre/post images, the
        retraction shape IVM consumers need; a first commit records
        every row as an insert). The diff costs one extra join at
        commit time — exactly Delta CDF's cost model — and buys
        downstream consumers a readable change log with NO re-diffing:
        the streaming source (``sources.cdf_source``) tails these
        sidecars with exactly-once version offsets. Underscore-named,
        so data readers never see it.

        ``cdf_empty=True`` (round 11) writes a ZERO-ROW sidecar with
        the committed schema and no diff join — for commits the
        caller KNOWS are row-neutral (maintenance rewrites: compact /
        optimize_zorder / optimize_binpack with ``cdf=True``). The
        live change feed then crosses maintenance versions without a
        hole — Delta CDF's behavior over OPTIMIZE — at the cost of
        one empty parquet write. The txn log needs no analog: its
        records carry op kinds and the feed SKIPS maintenance
        versions outright.
        """
        prev = self._base_for(expected_version)
        rel, out = self._new_version()
        writer = post_state.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        try:
            if cdf_empty:
                _write_empty_changes(self.spark, out, self.key_col)
            if cdf:
                _write_commit_changes(self.spark, out, prev, self.key_col)
        except Exception:
            # no phantom versions on a failed change-sidecar write
            # (same guard as the DML paths)
            shutil.rmtree(out, ignore_errors=True)
            raise
        self._flip_pointer(rel, out, expected_version, tag, txn)
        return out

    def _base_for(
        self, expected_version: Optional[str], op: Optional[str] = None
    ) -> Optional[str]:
        """The current version a commit derives from, after the
        pre-write stale-base check: a base already stale at call time
        must not pay a full write just to be refused. DML (``op``
        names it) also refuses an empty store."""
        cur = self.current_version_dir()
        if op is not None and cur is None:
            raise ValueError(f"store {self.root} is empty; nothing to {op}")
        if expected_version is not None and cur != expected_version:
            raise ConcurrentCommitError(
                f"store {self.root}: pointer moved past {expected_version!r} "
                "since read(); refusing to clobber the concurrent commit"
            )
        return cur

    def _new_version(self) -> tuple[str, str]:
        """(name, path) of a fresh, not yet existing version directory."""
        rel = _new_version_dir_name(self._next_commit_ms())
        return rel, os.path.join(self.root, rel)

    def _next_commit_ms(self) -> int:
        """Strictly-increasing commit ms per store: two commits inside
        one wall-clock millisecond would otherwise tie in the version
        name and read_as_of would break the tie by uuid hex — i.e.
        randomly return the superseded snapshot. The guarantee is
        scoped to the documented single-writer contract (the bump
        reads the directory listing outside the flock; concurrent
        writers can still tie, as their pointer flips already race)."""
        now_ms = int(time.time() * 1000)
        prior = self.list_versions()
        if prior:
            now_ms = max(now_ms, version_commit_ms(prior[-1]) + 1)
        return now_ms

    def _flip_pointer(
        self,
        rel: str,
        out: str,
        expected_version: Optional[str],
        tag: Optional[str],
        txn: Optional[tuple[str, str]],
    ) -> None:
        """Atomically point the store at the (already written) version
        directory ``out`` — the flip half of the commit protocol,
        shared by every commit method. The pointer is written through
        :func:`_write_json_durable` and the store directory is fsync'd
        after the replace, so a flip that returned survives a crash.

        The txn carry-forward is a read-modify-write of the pointer:
        serialize it under an exclusive flock so a concurrent commit
        cannot interleave between the read and the replace and
        resurrect a txn map missing the other writer's marker. flock
        releases on process death — no stale-lock recovery needed.
        (On a shared filesystem without flock semantics, use a real
        transactional table format — the Delta/Iceberg backend seam.)
        """
        import fcntl

        tmp = self._pointer_path() + ".tmp"
        with open(self._pointer_path() + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            # Re-check AFTER the (slow) write and UNDER the lock: a
            # concurrent commit may have flipped the pointer mid-write,
            # and a check outside the lock would leave a window between
            # the check and the replace where another commit's flip is
            # silently clobbered. Remove the orphan version dir so
            # list_versions()/vacuum never see a never-committed snapshot
            # — unless ``out`` IS the expected version (a marker-only
            # flip re-points at a published version).
            if expected_version is not None and self.current_version_dir() != expected_version:
                if out != expected_version:
                    shutil.rmtree(out, ignore_errors=True)
                raise ConcurrentCommitError(
                    f"store {self.root}: pointer moved past {expected_version!r} "
                    "during write; refusing to clobber the concurrent commit"
                )
            pointer: dict[str, Any] = {"version_dir": rel}
            # Carry the per-app txn map forward so no commit — tagged
            # or not — can erase another stream's replay marker.
            try:
                with open(self._pointer_path()) as fh:
                    pointer["txns"] = json.load(fh).get("txns", {})
            except FileNotFoundError:
                pointer["txns"] = {}
            if txn is not None:
                app_id, version = txn
                pointer["txns"][app_id] = version
            if tag is not None:
                pointer["tag"] = tag
            _write_json_durable(tmp, pointer)
            os.replace(tmp, self._pointer_path())
            _fsync_dir(self.root)

    def read_as_of(self, epoch_ms: int) -> Optional[DataFrame]:
        """Time travel by TIMESTAMP (the Delta `timestampAsOf` shape):
        the newest version committed at or before ``epoch_ms``, or
        None if the store had no version yet. Version directories
        encode their commit wall-clock (``v-<epochms>-<uuid>``), so
        the lookup is a directory-name scan — no data read. Subject
        to ``vacuum``: travelling past the retention window raises
        like any snapshot read of a removed version."""
        candidates = [
            d
            for d in self.list_versions()
            if version_commit_ms(d) <= epoch_ms
        ]
        if not candidates:
            return None
        # list_versions sorts lexicographically == chronologically
        # (fixed-width epoch ms for any realistic clock)
        return self.read_version(candidates[-1])

    def read_version(
        self, version_dir: str, apply_deletion_vectors: bool = True
    ) -> DataFrame:
        """Time travel: read a specific committed version directory.

        DV-AWARE by default (r8 VERDICT #1 — the skipping/delete
        features must compose into ONE read path, not live as free
        functions the caller has to remember): if the version carries
        a ``_deletion_vectors/`` sidecar (written by
        :meth:`delete_where`), the positional mask is applied, so
        ``read`` / ``read_as_of`` / ``diff_versions`` /
        ``change_feed`` / ``compact`` / ``restore`` — all of which
        ride this method — see the post-delete state for free.
        ``apply_deletion_vectors=False`` exposes the raw physical
        rows (compaction internals, forensics)."""
        if apply_deletion_vectors:
            return _masked_scan(self.spark, version_dir)
        return _version_reader(self.spark, version_dir).parquet(version_dir)

    def delete_where(
        self,
        predicate: str,
        expected_version: Optional[str] = None,
        cdf: bool = False,
    ) -> tuple[str, int]:
        """Row-level DELETE as a NEW COMMIT without rewriting data
        files — the Delta deletion-vector shape lifted into the
        store's commit protocol: the current version's immutable data
        files are HARD-LINKED into a new version directory (zero data
        movement, the shallow-clone mechanism), the rows matching
        ``predicate`` are recorded positionally in the new version's
        ``_deletion_vectors/`` sidecar (merged with any inherited
        mask — deletes ACCUMULATE), and the pointer flips under the
        same lock as :meth:`commit`. History stays append-only: time
        travel to the pre-delete version still sees every row, the
        change feed emits the deleted rows as ``delete`` rows, and
        :meth:`compact` later materializes the mask and drops the
        sidecar. At 100 TB a 0.1% delete writes megabytes of
        positions and O(filecount) links instead of rewriting
        terabytes.

        Returns ``(new_version_dir, n_deleted_total)`` where the
        count is the TOTAL number of masked rows in the new version
        (inherited + new — the number of physical rows a reader no
        longer sees). A predicate adding NO new positions commits
        NOTHING and returns ``(current_dir, prior_total)`` — no-op
        maintenance deletes must not churn version history or shift
        the vacuum retention window (review finding; mirrors
        :meth:`update_where`'s no-op contract)."""
        cur = self._base_for(expected_version, "delete")
        rel, out = self._new_version()
        changed, n_total = delete_where_build(
            self.spark, cur, out, predicate, self.key_col, cdf
        )
        if not changed:
            return cur, n_total
        self._flip_pointer(rel, out, expected_version, None, None)
        return out, n_total

    def describe_history(self) -> DataFrame:
        """Commit lineage as a DataFrame (the Delta DESCRIBE HISTORY
        shape): one row per version — commit epoch-ms (parsed from the
        directory name), whether it is the current pointer target, and
        the row count from the parquet FOOTERS (no data scan; the
        driver-side listing is over version directories, which a store
        has dozens of, not data-scale). ``n_rows`` is the LIVE count:
        a version carrying deletion vectors subtracts its masked
        positions (the sidecar footers — positions are distinct by
        construction), matching what :meth:`read_version` serves."""
        cur = self.current_version_dir()
        rows = []
        for vd in self.list_versions():
            n = _version_live_rows(vd)
            base = os.path.basename(vd)
            rows.append(
                Row(
                    version_dir=base,
                    commit_ms=version_commit_ms(base),
                    is_current=(vd == cur),
                    n_rows=n,
                )
            )
        schema = (
            "version_dir string, commit_ms long, is_current boolean,"
            " n_rows long"
        )
        return self.spark.createDataFrame(rows, schema)

    def list_versions(self) -> list[str]:
        """Committed version directories, oldest first."""
        return sorted(
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith("v-") and os.path.isdir(os.path.join(self.root, d))
        )

    def diff_versions(
        self,
        old_dir: str,
        new_dir: str,
        key_col: Optional[str] = None,
        include_old: bool = False,
    ) -> DataFrame:
        """CDC between two snapshots: one row per changed document with
        ``change_type`` in (insert, delete, update).

        Built on the store's immutable versions (the parquet analog of
        Delta time travel): full-outer join on the key, rows compared
        column-wise. One shuffle per side on the key.

        ``include_old=True`` additionally emits the before-image as
        ``old_<col>`` columns (NULL on insert) — Delta CDF's
        preImage/postImage shape, which is what retraction-based
        consumers (incremental view maintenance, ``operators.ivm``)
        need to subtract deleted/updated rows from downstream
        aggregates without rescanning the base.
        """
        key = key_col or self.key_col
        return diff_frames(
            self.read_version(old_dir),
            self.read_version(new_dir),
            key,
            include_old,
        )

    def change_feed(
        self,
        from_dir: Optional[str] = None,
        to_dir: Optional[str] = None,
        key_col: Optional[str] = None,
    ) -> DataFrame:
        """The Delta Change-Data-Feed shape: every row-level change
        across a RANGE of commits, stamped with the commit epoch-ms it
        landed in (``commit_ms``) — the incremental-consumer contract
        ("give me everything since version X") that a pair-wise
        :meth:`diff_versions` can't answer without the caller looping.

        Implemented as the union of consecutive-version diffs: the
        loop is driver-side over O(versions) directory names (a store
        has dozens of commits, not data-scale many), each diff the
        same one-shuffle full-outer join as ``diff_versions``, and the
        union is lazy — Spark executes the feed as ONE plan. On a
        table-format backend this becomes a metadata read of the
        per-commit add/remove files; semantics are identical.
        """
        versions = self.list_versions()
        if not versions:
            raise ValueError(f"store {self.root} has no versions")
        if from_dir is None:
            from_dir = versions[0]
        if to_dir is None:
            to_dir = versions[-1]
        try:
            lo, hi = versions.index(from_dir), versions.index(to_dir)
        except ValueError:
            raise ValueError(
                f"change_feed bounds must be committed versions of "
                f"{self.root}: {from_dir!r}..{to_dir!r}"
            )
        if lo > hi:
            raise ValueError("from_dir is newer than to_dir")
        key = key_col or self.key_col
        feed: Optional[DataFrame] = None
        for old, new in zip(versions[lo:hi], versions[lo + 1:hi + 1]):
            step = diff_frames(
                self.read_version(old), self.read_version(new), key
            ).withColumn(
                "commit_ms",
                F.lit(version_commit_ms(new)).cast("long"),
            )
            # allowMissingColumns: consecutive steps may have evolved
            # schemas (a column added in commit k exists only in steps
            # >= k's diffs) — absent columns read as NULL
            feed = (
                step
                if feed is None
                else feed.unionByName(step, allowMissingColumns=True)
            )
        if feed is None:  # single version or empty range: no changes
            base = self.read_version(to_dir)
            payload = [c for c in base.columns if c != key]
            # Same column ORDER as the diff branch (key, change_type,
            # payload..., commit_ms) — consumers that unionByName both
            # shapes are fine either way, but positional consumers and
            # schema equality checks must not see a different feed
            # schema just because the range happened to be empty.
            return (
                base.withColumn("change_type", F.lit("insert"))
                .withColumn("commit_ms", F.lit(0).cast("long"))
                .filter(F.lit(False))
                .select(key, "change_type", *payload, "commit_ms")
            )
        return feed

    # Deprecated alias: the row-diff plan is the PUBLIC module-level
    # :func:`diff_frames` (r9 VERDICT #5 / ADVICE: operators.ivm used
    # to reach into this private staticmethod cross-module; the seam
    # is now a free function both the store and IVM import). Kept so
    # existing callers/tests keep working.
    _diff_frames = staticmethod(
        lambda old_df, new_df, key, include_old=False: diff_frames(
            old_df, new_df, key, include_old
        )
    )

    def bucket_drift(
        self,
        old_dir: str,
        new_dir: str,
        row_string_expr: str,
        key_string_expr: Optional[str] = None,
        n_buckets: int = 64,
    ) -> DataFrame:
        """Merkle-style snapshot comparison: instead of diffing rows
        (``diff_versions`` — one full-outer join over BOTH snapshots),
        hash each row to one of ``n_buckets`` by its key and compare
        per-bucket order-independent checksums. Two 100 TB snapshots
        compare by exchanging ``n_buckets`` (bucket, count, checksum)
        triples; only diverging buckets then need the row-level diff,
        pruned by the same bucket-of-key predicate — the anti-entropy
        repair pattern (Merkle trees in Dynamo/Cassandra; DeCandia et
        al. 2007, public paper), and the distributed form of the
        reference's table-checksum short-circuit
        (lib/UpdateStrategies.py VERSIONED_TABLE_CHECKSUM).

        ``row_string_expr`` must render a row to a PORTABLE string
        (bigint/string/decimal casts — no raw doubles); the checksum
        is sum of 56-bit md5 digests mod 2^56, associative and
        commutative, so it map-side combines and never depends on row
        order. Returns one row per DIVERGING bucket:
        (bucket, n_old, n_new, chk_old, chk_new)."""
        from far_finer_airtable_firestore_sync_spark.operators._util import (
            next_seq,
        )

        seq = next_seq()
        key = key_string_expr or f"cast({self.key_col} as string)"
        ov, nv = f"_ffs_drift_old_{seq}", f"_ffs_drift_new_{seq}"
        self.read_version(old_dir).createOrReplaceTempView(ov)
        self.read_version(new_dir).createOrReplaceTempView(nv)
        return self.spark.sql(
            bucket_drift_body(
                "spark", ov, nv, row_string_expr, key, n_buckets
            )
        )

    def repair_rows(
        self,
        old_dir: str,
        new_dir: str,
        row_string_expr: str,
        key_string_expr: Optional[str] = None,
        n_buckets: int = 64,
        include_old: bool = False,
    ) -> DataFrame:
        """Anti-entropy step 2: the row-level diff PRUNED to diverging
        buckets — ``bucket_drift`` finds which of the ``n_buckets``
        checksums disagree (step 1, exchanges only n_buckets triples),
        then this runs :meth:`diff_versions`'s plan over ONLY the rows
        whose key-bucket diverged (broadcast semi-join on the <=
        n_buckets-row drift set, so both snapshot scans drop
        non-diverging rows before the full-outer join). Completeness:
        any inserted/deleted/updated row changes its bucket's count or
        checksum, so its bucket is in the drift set and the repair
        diff EQUALS the full diff — up to the 2^-56 chance of a
        checksum collision canceling an update exactly (the Merkle
        trade; the oracle pins equality on real data). The bucket
        expression is shared with the checksum body
        (:func:`bucket_of_key_expr`) — drift and repair must bucket
        identically or repair silently misses rows."""
        key_s = key_string_expr or f"cast({self.key_col} as string)"
        drift = self.bucket_drift(
            old_dir, new_dir, row_string_expr, key_s, n_buckets
        ).select(F.col("bucket").alias("_ffs_drift_bkt"))
        bexpr = bucket_of_key_expr(key_s, n_buckets, "spark")

        def pruned(version_dir: str) -> DataFrame:
            df = self.read_version(version_dir)
            # reserved working columns must not collide with (or
            # silently clobber) user data (review finding)
            for reserved in ("_ffs_row_bkt", "_ffs_drift_bkt"):
                if reserved in df.columns:
                    raise ValueError(
                        f"column {reserved!r} is reserved by repair_rows"
                    )
            return (
                df.withColumn("_ffs_row_bkt", F.expr(bexpr))
                .join(
                    F.broadcast(drift),
                    F.col("_ffs_row_bkt") == F.col("_ffs_drift_bkt"),
                    "left_semi",
                )
                .drop("_ffs_row_bkt")
            )

        return diff_frames(
            pruned(old_dir), pruned(new_dir), self.key_col, include_old
        )

    def restore(self, version_dir: str, cdf: bool = False) -> str:
        """Roll the store back to an earlier snapshot AS A NEW COMMIT
        (the Delta RESTORE shape): the restored state is re-committed
        rather than the pointer moved backwards, so history stays
        append-only — describe_history shows the restore, read_as_of
        still reaches the versions in between, and vacuum's
        keep-last-N window is unaffected.

        O(filecount) METADATA, not a rewrite (round-10: the previous
        implementation re-committed the data through a full write —
        restoring a 100 TB snapshot must not copy 100 TB): the target
        version's immutable files HARD-LINK into the new version
        (:func:`_link_tree`), its deletion-vector sidecar copies with
        them (positions are version-relative and file names are
        preserved, so the restored view keeps the target's masked
        state — same argument as :func:`shallow_clone`), and the
        pointer flips under the commit lock. The inherited
        ``_changes`` sidecar is stripped (it describes the TARGET's
        commit, not this restore); ``cdf=True`` writes this restore's
        own feed as the diff current -> restored, so downstream CDF
        consumers see the rollback as ordinary retractions/updates."""
        if version_dir not in self.list_versions():
            raise ValueError(
                f"{version_dir!r} is not a committed version of {self.root}"
            )
        cur = self.current_version_dir()
        rel, out = self._new_version()
        restore_build(
            self.spark, version_dir, out, self.key_col, cur if cdf else None
        )
        self._flip_pointer(rel, out, None, None, None)
        return out

    def read_where(self, col: str, lo: Any, hi: Any) -> Optional[DataFrame]:
        """Zone-pruned selective read of the CURRENT snapshot:
        ``col between lo and hi``, opening only the files whose
        footer-stats zone intersects the range (sidecar manifest,
        written lazily on first use — see :func:`write_zone_manifest`).
        The predicate is re-applied on the pruned scan, so correctness
        never depends on the manifest; the manifest only shrinks the
        file list. Deletion vectors are applied on the pruned scan —
        the zone path serves the same consistent view as :meth:`read`
        (zones computed from footers OVER-keep deleted rows, which the
        mask then drops; never lossy). Returns None on an empty
        store."""
        vd = self.current_version_dir()
        if vd is None:
            return None
        keep, total = prune_files_by_zone(vd, col, lo, hi)
        if not keep:  # every file's zone misses the range — empty
            # frame from the SAME captured version (a second pointer
            # read could race a concurrent commit; review finding)
            return _version_reader(self.spark, vd).parquet(vd).filter(
                F.lit(False)
            )
        return _masked_scan(self.spark, vd, keep).filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )

    def read_where_eq(
        self, col: str, values: list, build_if_missing: bool = True
    ) -> Optional[DataFrame]:
        """Bloom-pruned POINT lookup of the CURRENT snapshot:
        ``col in values``, opening only the files whose per-file Bloom
        sidecar (``write_bloom_manifest``, written lazily on first
        use) may contain at least one probe — the store-level API the
        r8 VERDICT asked for (#1): zone maps skip on RANGES and
        degenerate when a high-cardinality key hash-scatters across
        files; blooms answer "can this file contain THIS key?".
        Blooms have no false negatives and the predicate is re-applied
        on the pruned scan, so pruning is loss-free by construction;
        the kept files' deletion vectors are applied
        (:func:`_masked_scan`), so a deleted key does NOT resurrect
        through the point-lookup path. Returns None on an empty store.

        ``build_if_missing`` controls the lazy sidecar build: it
        reads one column per file ON THE DRIVER, which is the right
        trade for a maintenance-built index serving many lookups but
        the wrong one for a single ad-hoc read of a large un-indexed
        version (review finding). With ``build_if_missing=False`` an
        un-indexed version is read whole through :func:`_masked_scan`
        and filtered (parquet footer min/max still skips row groups).
        :meth:`get_document` prunes by zone instead."""
        vd = self.current_version_dir()
        if vd is None:
            return None
        vals = list(values)
        if not build_if_missing and not os.path.exists(
            os.path.join(vd, f"_bloom_{col}.json")
        ):
            return _masked_scan(self.spark, vd).filter(F.col(col).isin(vals))
        keep, _total = prune_files_by_bloom(vd, col, vals)
        if not keep:
            return _version_reader(self.spark, vd).parquet(vd).filter(
                F.lit(False)
            )
        return _masked_scan(self.spark, vd, keep).filter(F.col(col).isin(vals))

    def compact(
        self,
        target_rows_per_file: int = 1_000_000,
        partition_by: Optional[list[str]] = None,
        cdf: bool = False,
    ) -> str:
        """Rewrite the current snapshot with right-sized files.

        Point-mutation-heavy histories accumulate small files (every
        commit writes its own directory); scans then pay per-file open
        cost and tiny row groups defeat parquet's columnar encodings.
        Compaction = read current version, coalesce to
        ceil(rows / target_rows_per_file) files, commit as a new
        version (old versions stay readable until vacuum). At 100 TB
        this is the routine maintenance job, run off the write path.

        DV-correct (r8 VERDICT #1): ``read`` applies any deletion
        vectors, so compacting a version that carries a mask
        MATERIALIZES the deletes — the new version holds only
        surviving rows and carries NO sidecar (a fresh directory);
        the pre-compaction version, mask intact, stays time-travelable
        until vacuum.

        Sizing reads NO data (r9 VERDICT #6): the live row count comes
        from the parquet FOOTERS minus the DV sidecar's position count
        (O(filecount) metadata stats — the same listing the commit
        performs), so the maintenance pass reads the table exactly
        once (the rewrite itself), not twice. At 100 TB the old
        ``df.count()`` pre-pass doubled the most expensive routine
        job in the system.

        ``cdf=True`` (round 11) keeps a LIVE change feed hole-free
        across the maintenance commit: the rewrite is row-neutral by
        construction, so the sidecar is a zero-row schema stub
        (``commit(cdf_empty=True)`` — no diff join), exactly Delta
        CDF's behavior over OPTIMIZE.
        """
        vd = self.current_version_dir()
        if vd is None:
            raise ValueError(f"store {self.root} is empty; nothing to compact")
        n = _version_live_rows(vd)
        n_files = max(1, -(-n // target_rows_per_file))
        return self.commit(
            self.read_version(vd).coalesce(n_files),
            partition_by=partition_by,
            cdf_empty=cdf,
        )

    def optimize_binpack(
        self,
        min_rows_per_file: int = 500_000,
        target_rows_per_file: int = 1_000_000,
        partition_values: Optional[dict[str, Any]] = None,
        cdf: bool = False,
    ) -> tuple[str, dict]:
        """Delta-OPTIMIZE bin-packing (r10 VERDICT #1): rewrite ONLY
        the current version's under-sized files, hard-linking every
        right-sized file unchanged — routine small-file maintenance
        at O(small files) data cost instead of :meth:`compact`'s
        full-snapshot rewrite. Deletion vectors split along the same
        line: linked files keep their mask entries (version-relative
        paths survive the link), rewritten files materialize theirs.
        ``partition_values`` scopes the pack to named hive partitions
        (``OPTIMIZE ... WHERE``). A version with no under-sized files
        in scope commits NOTHING (no version churn, no retention
        shift — the ``delete_where`` no-op contract). Returns
        ``(version_dir, stats)`` with the
        :func:`binpack_build` stat dict (``n_rewritten == 0`` marks
        the no-op)."""
        vd = self.current_version_dir()
        if vd is None:
            raise ValueError(
                f"store {self.root} is empty; nothing to optimize"
            )
        small, big = _binpack_classify(
            vd, min_rows_per_file, partition_values
        )
        if not small:
            return vd, {
                "n_linked": len(big),
                "n_rewritten": 0,
                "rows_rewritten": 0,
                "n_files_written": 0,
            }
        rel, out = self._new_version()
        try:
            stats = binpack_build(
                self.spark, vd, out, min_rows_per_file,
                target_rows_per_file, partition_values,
            )
            if cdf:
                # row-neutral maintenance: zero-row sidecar keeps a
                # live change feed hole-free (see commit(cdf_empty))
                _write_empty_changes(self.spark, out, self.key_col)
        except Exception:
            # no phantom versions (the delete_where guard)
            shutil.rmtree(out, ignore_errors=True)
            raise
        self._flip_pointer(rel, out, None, None, None)
        return out, stats

    def update_where(
        self,
        predicate: str,
        set_exprs: dict[str, str],
        expected_version: Optional[str] = None,
        cdf: bool = False,
    ) -> tuple[str, int]:
        """Row-level UPDATE without rewriting untouched data — the
        Delta UPDATE-with-deletion-vectors shape, completing the DML
        set next to :meth:`delete_where`: the current version's data
        files HARD-LINK into a new version, the rows matching
        ``predicate`` are masked positionally, and their updated
        images (each ``set_exprs`` column replaced by its SQL
        expression, evaluated against the pre-update row) are
        APPENDED as new right-sized part files in the same version.
        At 100 TB an update touching 0.1% of rows writes that sliver
        plus a positions sidecar — never the terabytes around it.

        Ordering constraint (load-bearing): the mask is computed
        BEFORE the append, so an update that does not change its own
        predicate columns (``val = val + 1 WHERE grp = 3``) cannot
        mask its freshly appended images. Updated images derive from
        the MASKED snapshot, so previously deleted rows never
        resurrect as updates. Copied zone/Bloom manifests are
        invalidated (the appended files would otherwise be invisible
        to pruning — a LOSSY manifest); they rebuild lazily.

        CDC falls out for free: the old image is masked and the new
        one appended under the same key, so ``diff_versions`` /
        ``change_feed`` report the row as an ``update`` with pre/post
        images — no special casing. ``compact`` later materializes
        mask + appends into a plain version.

        Returns ``(new_version_dir, n_updated)``; an empty match
        creates NO new version and returns ``(current_dir, 0)``.

        ONE-PASS (round 11, guide §1.2/§2.3): the masked snapshot is
        scanned once, carrying its physical positions
        (:func:`_masked_scan` ``positions=True``); the deletion-vector
        positions, the updated images and the CDF rows are all
        projections of the matched sliver — the previous shape paid
        three predicate scans of the full version per update
        (positions, images, change rows). A sliver is collected once
        and written on the driver (:func:`update_where_build`)."""
        cur = self._base_for(expected_version, "update")
        rel, out = self._new_version()
        changed, n = update_where_build(
            self.spark, cur, out, predicate, set_exprs, self.key_col, cdf
        )
        if not changed:
            return cur, n
        self._flip_pointer(rel, out, expected_version, None, None)
        return out, n

    def merge_into(
        self,
        source: DataFrame,
        when_matched_update: Optional[dict[str, str]] = None,
        update_condition: Optional[str] = None,
        when_matched_delete: Optional[str] = None,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_delete: Optional[str] = None,
        cdf: bool = False,
        expected_version: Optional[str] = None,
        txn: Optional[tuple[str, str]] = None,
        schema_evolution: bool = False,
    ) -> tuple[str, dict[str, int]]:
        """Multi-clause MERGE INTO as ONE deletion-vector commit — the
        capstone over the row-level DML machinery: the upsert shape
        the reference runs as a Firestore batched write
        (/root/reference/lib/FirestoreWrapper.py:102-123 set/delete
        batches) expressed as a single atomic store version. Clauses,
        evaluated per matched row in Delta's order:

        - ``when_matched_delete`` (SQL condition over ``t.*``/``s.*``;
          ``"true"`` for unconditional): matched rows it selects are
          DELETED;
        - ``when_matched_update`` (target column -> SQL expression
          over ``t.*``/``s.*``), optionally gated by
          ``update_condition``: remaining matched rows take the
          updated image;
        - ``when_not_matched_insert``: source rows with no target
          match are INSERTED (source columns must be a subset of the
          target's; absent ones land as typed NULLs);
        - ``when_not_matched_by_source_delete`` (SQL condition over
          bare target columns; ``"true"`` for unconditional): target
          rows with NO source match are DELETED — with an
          unconditional insert clause this is the full-sync shape
          (source = the complete desired state).

        Physical shape (mirrors :meth:`update_where`): the current
        version's files HARD-LINK into a new version, every
        deleted-or-updated row is masked by its physical position,
        which rides the clause-tagged join from the one-pass masked
        scan (no second scan, never an IN-list on the driver), and the
        updated + inserted images append as right-sized part files. At
        100 TB a merge touching 0.1% of rows writes that sliver; the join that
        defines the matched set is one shuffle on the key, AQE-sized. A
        sliver is collected once and written on the driver
        (:func:`merge_into_build`).

        A source with DUPLICATE keys is rejected up front (the same
        ambiguity Delta raises on: two source rows updating one
        target row have no deterministic winner). All validation and
        counting happens BEFORE the link — ONE aggregate over the
        clause-tagged join (r10 VERDICT #1 fused the former three
        validation actions) — so a bad clause fails cleanly with no
        phantom directory (r9 ADVICE ordering).

        ``txn=(app_id, version)`` rides the pointer flip atomically
        (the Delta txnAppId/txnVersion pattern — see :meth:`commit`),
        making a foreachBatch writer exactly-once under retries; a
        no-op merge records no marker, which is safe because replaying
        a no-op is again a no-op.

        ``schema_evolution=True`` is Delta's ``withSchemaEvolution()``
        MERGE: source columns absent from the target WIDEN it —
        untouched rows stay in their linked narrow files (never a
        100 TB rewrite to add a column), updated/inserted images
        carry the evolved schema, and the version is marked
        mixed-schema so every later read footer-merges
        (:data:`_MIXED_SCHEMA_MARKER`). Reads backfill the evolved
        columns as typed NULLs for pre-evolution rows.

        Returns ``(version_dir, {"updated": u, "deleted": d,
        "inserted": i})``; a merge that touches nothing commits
        nothing and returns the current version."""
        cur = self._base_for(expected_version, "merge")
        # ONE-PASS (round 11): the masked snapshot carries its
        # physical positions through the clause-tagged join, so the
        # deletion-vector mask projects off the SAME cached frame
        plan = derive_merge_clauses(
            _masked_scan(self.spark, cur, positions=True), source,
            self.key_col, when_matched_update, update_condition,
            when_matched_delete, when_not_matched_insert,
            when_not_matched_by_source_delete, schema_evolution,
        )
        rel, out = self._new_version()
        changed, counts = merge_into_build(
            self.spark, cur, out, plan, self.key_col, cdf,
        )
        if not changed:
            return cur, counts
        self._flip_pointer(rel, out, expected_version, None, txn)
        return out, counts

    def apply_changes(
        self, changes: DataFrame, expected_version: Optional[str] = None,
        txn: Optional[tuple[str, str]] = None, cdf: bool = False,
    ) -> tuple[str, dict[str, int]]:
        """Commit a change set computed against the current version
        (key-unique, :func:`diff_frames` ``include_old=True`` shape,
        its old side a :func:`_masked_scan` ``positions=True`` scan of
        that version) as ONE deletion-vector version: the positions the
        change set carries on its ``update``/``delete`` rows are
        masked, ``update``/``insert`` post images appended, and with
        ``cdf`` the change rows as the version's change feed (see
        :func:`apply_changes_build`). Nothing is re-derived and the
        version's data is not read again, so a maintained view commits
        its delta at the cost of writing it: a sliver is one Spark job,
        the collect the driver then writes from. A change set without
        positions, or whose positions name another version, raises
        ``ValueError`` and publishes nothing.

        ``txn`` rides the pointer flip. Unlike :meth:`merge_into`, an
        EMPTY change set still records it: the pointer re-flips to the
        current version (no new version, no Spark job beyond the
        collect), so a consumer whose marker carries more than the epoch
        (per-feed snapshot pins) advances it on a no-change epoch. That
        flip raises :class:`ConcurrentCommitError` if another commit
        moved the pointer meanwhile, and never removes the version.

        Returns ``(version_dir, {"updated", "deleted", "inserted",
        "deleted_by_source"})``."""
        cur = self._base_for(expected_version, "apply changes to")
        rel, out = self._new_version()
        changed, counts = apply_changes_build(
            self.spark, cur, out, changes, self.key_col, cdf
        )
        if changed:
            self._flip_pointer(rel, out, expected_version, None, txn)
            return out, counts
        if txn is not None:
            # marker-only flip; refused if the pointer left ``cur``
            self._flip_pointer(os.path.basename(cur), cur, cur, None, txn)
        return cur, counts

    def optimize_zorder(
        self,
        x_col: str,
        y_col: str,
        n_files: int = 32,
        buckets_per_dim: int = 256,
        cdf: bool = False,
    ) -> str:
        """Re-cluster the current snapshot on a 2-D Z-order (Morton)
        key — the OPTIMIZE ZORDER BY maintenance job as a STORE API
        (continuing the r8->r9 composition theme: layout features
        belong to the store, not to callers wiring free functions).
        Both columns must be integer-valued (cast dates to epoch-days
        first). Values are bucketed onto a ``buckets_per_dim`` grid
        from exact min/max aggregates, bit-interleaved
        (``operators.layout.morton_key_expr`` — pure shift/mask
        arithmetic), range-partitioned on the key and sorted within
        partitions, so every data file covers a compact rectangle in
        (x, y) space and its footer min/max prune scans filtered on
        EITHER dimension (``read_where`` rides the eagerly-written
        zone manifest). Like :meth:`compact`, the rewrite reads
        through the DV mask — deletes are materialized and the new
        version carries no sidecar. One range shuffle at write time
        buys min/max pruning on every later scan; at 100 TB this is
        the periodic maintenance job run off the write path."""
        df = self.read()
        if df is None:
            raise ValueError(f"store {self.root} is empty; nothing to cluster")
        out = self.commit(
            zorder_cluster(df, x_col, y_col, n_files, buckets_per_dim),
            cdf_empty=cdf,
        )
        write_zone_manifest(out)
        return out

    def vacuum(self, keep_last: int = 3) -> list[str]:
        """Remove version directories older than the ``keep_last`` most
        recent (the current pointer target is always kept). Returns the
        removed paths. Snapshot readers of removed versions fail —
        same contract as Delta VACUUM."""
        import shutil

        versions = sorted(
            d
            for d in os.listdir(self.root)
            if d.startswith("v-") and os.path.isdir(os.path.join(self.root, d))
        )
        current = self.current_version_dir()
        keep = set(versions[-keep_last:]) if keep_last > 0 else set()
        if current is not None:
            keep.add(os.path.basename(current))
        removed = []
        for d in versions:
            if d not in keep:
                path = os.path.join(self.root, d)
                shutil.rmtree(path)
                removed.append(path)
        return removed

    # -- reads (S5-S8) -------------------------------------------------------

    def get_document(self, doc_id: Any) -> Optional[dict]:
        """S5 point read (lib/FirestoreWrapper.py:72-84): the files
        whose zone (:func:`prune_files_by_zone`, footer min/max of the
        key) can hold ``doc_id`` are scanned in ONE Spark job, each
        matching row with its physical position, and the deletion
        vectors of those files are applied to the collected rows on the
        driver — a point read never resurrects a deleted row, whatever
        the size of the mask."""
        vd = self.current_version_dir()
        if vd is None:
            return None
        keep, _total = prune_files_by_zone(vd, self.key_col, doc_id, doc_id)
        if not keep:
            return None
        scan = _version_reader(self.spark, vd).option("basePath", vd)
        rows = _with_positions(scan.parquet(*keep), vd).filter(
            F.col(self.key_col).isin([doc_id])
        ).collect()
        dv = _dv_positions(vd, keep) if rows else None
        dead = set() if dv is None else set(zip(
            dv["file_path"].to_pylist(), dv["row_index"].to_pylist()
        ))
        for row in rows:
            doc = row.asDict(recursive=True)
            pos = tuple(doc.pop(c) for c in _POS_COLS)
            if pos[:2] not in dead:
                return doc
        return None

    def query_documents(self, field: str, op: str, value: Any) -> DataFrame:
        """S6 predicate scan (lib/FirestoreWrapper.py:86-92)."""
        df = self.read()
        if df is None:
            raise ValueError("empty store")
        ops = {
            "==": F.col(field) == F.lit(value),
            "<": F.col(field) < F.lit(value),
            "<=": F.col(field) <= F.lit(value),
            ">": F.col(field) > F.lit(value),
            ">=": F.col(field) >= F.lit(value),
        }
        return df.filter(ops[op])

    def query_documents_not_equal(self, field: str, value: Any) -> DataFrame:
        """S7: Firestore ``!=`` excludes docs missing the field — match
        with an explicit isNotNull conjunct (SURVEY.md §2.1 S7)."""
        df = self.read()
        if df is None:
            raise ValueError("empty store")
        return df.filter(F.col(field).isNotNull() & (F.col(field) != F.lit(value)))

    def query_all_versions(self, update_type: str) -> DataFrame:
        """S8 ordered scan (lib/FirestoreWrapper.py:125-131)."""
        df = self.read()
        if df is None:
            raise ValueError("empty store")
        return df.filter(F.col("update_type") == update_type).orderBy(
            F.col("version_id").desc()
        )

    # -- point mutations (K1-K6; parity API, not the scale path) -------------

    def _as_row_df(self, data: dict, like: Optional[DataFrame]) -> DataFrame:
        if like is not None:
            row = {f.name: data.get(f.name) for f in like.schema.fields}
            return self.spark.createDataFrame([Row(**row)], like.schema)
        return self.spark.createDataFrame([Row(**data)])

    def add_document(self, data: dict) -> str:
        """K1 insert with synthetic id (lib/FirestoreWrapper.py:43-52)."""
        doc_id = uuid.uuid4().hex
        self.add_document_with_id(doc_id, data)
        return doc_id

    def add_document_with_id(self, doc_id: Any, data: dict) -> None:
        """K2 insert at explicit id (lib/FirestoreWrapper.py:133-141)."""
        cur = self.read()
        row = self._as_row_df({**data, self.key_col: doc_id}, cur)
        post = row if cur is None else cur.unionByName(row, allowMissingColumns=True)
        self.commit(post)

    def update_document(self, doc_id: Any, data: dict) -> None:
        """K3 upsert-merge: partial-field update of one doc
        (lib/FirestoreWrapper.py:54-62) — untouched columns survive."""
        cur = self.read()
        if cur is None:
            raise ValueError("empty store")
        updates = {
            k: F.when(F.col(self.key_col) == F.lit(doc_id), F.lit(v)).otherwise(
                F.col(k)
            )
            for k, v in data.items()
            if k in cur.columns
        }
        self.commit(cur.withColumns(updates))

    def set_document(self, doc_id: Any, data: dict) -> None:
        """K4 overwrite: delete-then-set (lib/FirestoreWrapper.py:143-169)."""
        cur = self.read()
        row = self._as_row_df({**data, self.key_col: doc_id}, cur)
        if cur is None:
            self.commit(row)
            return
        self.commit(
            cur.filter(F.col(self.key_col) != F.lit(doc_id)).unionByName(
                row, allowMissingColumns=True
            )
        )

    def delete_document(self, doc_id: Any) -> None:
        """K5 delete by id (lib/FirestoreWrapper.py:64-70)."""
        cur = self.read()
        if cur is None:
            return
        self.commit(cur.filter(F.col(self.key_col) != F.lit(doc_id)))

    def clear_collection(self) -> None:
        """K6 truncate (lib/FirestoreWrapper.py:37-41)."""
        cur = self.read()
        if cur is not None:
            self.commit(self.spark.createDataFrame([], cur.schema))


# -- row-level DML, written once for both commit protocols ----------------
#
# ``DocumentStore`` publishes by flipping a pointer under a flock;
# ``sources.backends.TransactionalParquetBackend`` publishes by
# creating the next record of a lock-free CAS log. Everything between
# "base version and candidate directory chosen" and "candidate ready to
# publish" is the same for both, so it lives here exactly once: each
# ``*_build`` links the base into the private candidate, writes the
# mask / appended images / change sidecar, and removes the candidate on
# failure or when there is nothing to publish. Callers only publish.


def _link_candidate(base: str, out: str) -> None:
    """Hard-link version ``base`` into the candidate ``out``, minus the
    inherited ``_changes`` sidecar: it describes the predecessor's
    commit, and each version's change feed is its own commit only."""
    _link_tree(base, out)
    shutil.rmtree(os.path.join(out, _CHANGES_DIR), ignore_errors=True)


@contextlib.contextmanager
def _candidate(base: str, out: str):
    """:func:`_link_candidate`, then run the block; any failure removes
    ``out`` before it propagates (r9 ADVICE: ``list_versions()`` is
    name-pattern-based, so a half-built candidate would show up in
    read_as_of / describe_history / vacuum accounting / change_feed
    serving never-committed state)."""
    try:
        _link_candidate(base, out)
        yield
    except Exception:
        shutil.rmtree(out, ignore_errors=True)
        raise


def _drop_skip_manifests(out: str) -> None:
    """Drop the zone/Bloom manifests a candidate inherited: rows
    appended to it are invisible to them, so keeping them would make
    pruning LOSSY. They rebuild lazily."""
    for f in os.listdir(out):
        if f == "_zone_manifest.json" or f.startswith("_bloom_"):
            os.remove(os.path.join(out, f))


def _append_images(images: DataFrame, n: int, base: str, out: str):
    """Thunk appending ``n`` row images into ``out`` right-sized
    (ceil(n / 1e6) files) and partition-aware: a hive-partitioned
    ``base`` appends under its own partition columns (recovered from
    the directory names), so partition discovery keeps working and a
    row whose partition value changed lands in its new directory."""
    writer = images.coalesce(max(1, -(-n // 1_000_000))).write.mode("append")
    pcols = _hive_partition_cols(base)
    if pcols:
        writer = writer.partitionBy(*pcols)
    return lambda: writer.parquet(out)


def _changes_write(changes: DataFrame, out: str):
    """Thunk writing ``changes`` as ``out``'s ``_changes`` sidecar."""
    return lambda: changes.write.mode("errorifexists").parquet(
        os.path.join(out, _CHANGES_DIR)
    )


def _insert_changes(df: DataFrame, key: str) -> DataFrame:
    """CDF rows recording every row of ``df`` as an insert: post
    images, typed-NULL ``old_*`` pre-images. The feed of a first
    commit."""
    cols = [c for c in df.columns if c != key]
    types = dict(df.dtypes)
    return df.select(
        F.col(key),
        F.lit("insert").alias("change_type"),
        *cols,
        *[F.lit(None).cast(types[c]).alias(f"old_{c}") for c in cols],
    )


def _write_commit_changes(
    spark: SparkSession, out: str, base: Optional[str], key: str
) -> None:
    """(Re)write the ``_changes`` sidecar of a full-snapshot commit
    ``out`` as the diff of its data against ``base``'s masked snapshot
    — every row an insert when there is no base. Re-runnable: the CAS
    log rewrites it against each base a retry lands on."""
    ch = os.path.join(out, _CHANGES_DIR)
    shutil.rmtree(ch, ignore_errors=True)
    new_df = _version_reader(spark, out).parquet(out)
    if base is None:
        changes = _insert_changes(new_df, key)
    else:
        changes = diff_frames(
            read_with_deletion_vectors(spark, base), new_df, key,
            include_old=True,
        )
    changes.write.mode("errorifexists").parquet(ch)


def _write_empty_changes(spark: SparkSession, out: str, key: str) -> None:
    """Zero-row ``_changes`` sidecar with ``out``'s schema and no diff
    join — for commits known to be row-neutral (maintenance rewrites),
    so a live change feed crosses them without a hole."""
    like = _version_reader(spark, out).parquet(out).filter(F.lit(False))
    # coalesce(1): guarantee one schema-carrying file (an empty
    # multi-partition write can produce no files, and the stream
    # source anchors its schema on the newest sidecar's parquet footer)
    diff_frames(like, like, key, include_old=True).coalesce(1).write.mode(
        "errorifexists"
    ).parquet(os.path.join(out, _CHANGES_DIR))


def _write_dml(
    spark: SparkSession, base: str, out: str, positions: Optional[DataFrame],
    images: Optional[DataFrame], n_images: int, changes: Optional[DataFrame],
) -> None:
    """Write a DML candidate ``out`` linked from ``base`` with Spark
    jobs — the path of a commit :func:`_collect_sliver` does not bring
    to the driver: the ``positions`` mask, the ``n_images`` appended
    ``images`` and the ``changes`` sidecar, each skipped when None/0,
    then drop the inherited skip manifests. The writes project one
    cached frame into DISJOINT outputs and the positions form never
    scans ``out`` (so mask-before-append holds by construction): they
    overlap (round 12, guide §2.6)."""
    writes = []
    if positions is not None:
        writes.append(lambda: write_deletion_vectors(
            spark, out, legacy_dir=base, positions=positions
        ))
    if n_images:
        writes.append(_append_images(images, n_images, base, out))
    if changes is not None:
        writes.append(_changes_write(changes, out))
    _run_concurrently(*writes)
    _drop_skip_manifests(out)


#: Most rows one DML commit collects to the driver to write there with
#: pyarrow (:func:`_collect_sliver`); a larger commit keeps the Spark
#: writers (:func:`_write_dml`). The collect holds the rows on the
#: driver twice (the JVM's Arrow batches, then the pyarrow table) and
#: the driver writes them on one thread, where the Spark writers spread
#: over the cores; the bound keeps a commit of narrow rows within a few
#: tens of MB of driver memory and below the size where the two paths
#: take the same time on a 4-core host (measured in CHANGES.md). 0
#: turns the driver path off.
_DML_DRIVER_MAX_ROWS = 50_000

#: Spark leaf types whose Arrow form pyarrow writes as parquet that
#: Spark reads back as the same Spark type
_DRIVER_LEAF_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _driver_writable(dt: T.DataType) -> bool:
    """Whether a column of type ``dt`` round-trips through the driver
    path: a :data:`_DRIVER_LEAF_TYPES` leaf, or arrays, maps and structs
    of them (not intervals, variants or the void type, which the Spark
    writers handle or refuse as before)."""
    if isinstance(dt, T.StructType):
        return all(_driver_writable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _driver_writable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _driver_writable(dt.keyType) and _driver_writable(dt.valueType)
    return isinstance(dt, _DRIVER_LEAF_TYPES)


def _project(source: DataFrame, part: Optional[tuple]) -> Optional[DataFrame]:
    """The frame a DML commit part — ``(where, columns)`` over the
    commit's ``source`` — writes: the mask positions (``"pos"``), the
    appended images (``"img"``) or the change rows (``"cdf"``). None
    for an absent part."""
    if part is None:
        return None
    where, cols = part
    return source.filter(where).select(*cols)


def _collect_sliver(
    base: str, source: DataFrame, parts: dict, n_rows: Optional[int] = None,
) -> Optional[dict]:
    """The ``parts`` (see :func:`_project`; None parts are left out) of
    a DML commit over version ``base`` collected to the driver by ONE
    Spark job: one projection of ``source`` holding every part's
    ``where`` flag and columns, read back as Arrow batches, split on
    the driver by the flags. ``n_rows``, when the caller knows how many
    ``source`` rows some part selects, skips the collect above
    :data:`_DML_DRIVER_MAX_ROWS`; otherwise the collect is a ``limit``
    of one row past it.

    Returns the parts as pyarrow tables, each carrying the Spark schema
    of its :func:`_project` frame under :data:`_SPARK_SCHEMA_KEY` in
    its schema metadata, for :func:`_write_sliver`. None — the Spark
    writers run instead — above the bound, over a hive-partitioned
    ``base`` (Spark lays out its partition directories) or when a part
    holds a column type outside :func:`_driver_writable`."""
    import pyarrow as pa

    if (
        not _DML_DRIVER_MAX_ROWS
        or (n_rows is not None and n_rows > _DML_DRIVER_MAX_ROWS)
        or _hive_partition_cols(base)
    ):
        return None
    parts = {name: p for name, p in parts.items() if p is not None}
    schemas = [_project(source, p).schema for p in parts.values()]
    if not all(_driver_writable(s) for s in schemas):
        return None
    cols = [c for _where, part_cols in parts.values() for c in part_cols]
    flat = source.select(
        *[where.alias(f"_w{i}") for i, (where, _c) in enumerate(parts.values())],
        *[c.alias(f"_c{j}") for j, c in enumerate(cols)],
    ).filter(functools.reduce(
        lambda a, b: a | b, [F.col(f"_w{i}") for i in range(len(parts))]
    ))
    if n_rows is None:
        flat = flat.limit(_DML_DRIVER_MAX_ROWS + 1)
    # the Arrow batches as the JVM wrote them: ``toArrow`` would recast
    # them to a schema that refuses a NULL struct with non-null fields
    got = pa.Table.from_batches(
        flat._collect_as_arrow(empty_list_if_zero_records=False)
    )
    if got.num_rows > _DML_DRIVER_MAX_ROWS:
        return None
    sliver, lo = {}, 0
    for i, (name, s) in enumerate(zip(parts, schemas)):
        hi = lo + len(s.fields)
        sliver[name] = (
            got.filter(got[f"_w{i}"])
            .select([f"_c{j}" for j in range(lo, hi)])
            .rename_columns(s.names)
            .replace_schema_metadata({_SPARK_SCHEMA_KEY: s.json()})
        )
        lo = hi
    return sliver


def _sort_rows(t: "pa.Table", cols: list[str]) -> "pa.Table":
    """``t`` sorted on ``cols`` (stable), so the same rows write the
    same bytes whatever order the collect returned them in; a column
    pyarrow cannot order (a nested key) leaves ``t`` as collected."""
    import pyarrow as pa

    try:
        return t.sort_by([(c, "ascending") for c in cols])
    except (pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return t


def _dictionary_columns(t: "pa.Table") -> list[str]:
    """The flat columns of ``t`` whose dictionary encoding (the
    distinct values once, then one index of ``log2(distinct)`` bits per
    row) is smaller than their plain encoding — the rule parquet-mr's
    dictionary fallback applies in Spark's writer. pyarrow would
    dictionary-encode every column, and a column of distinct row
    indices or keys then writes about a third more bytes."""
    import pyarrow.compute as pc
    import pyarrow.types as pt

    keep = []
    for name, col in zip(t.column_names, t.columns):
        if pt.is_nested(col.type):
            continue
        distinct = pc.unique(col)
        index_bits = max(1, len(distinct) - 1).bit_length()
        if distinct.nbytes + t.num_rows * index_bits / 8 < col.nbytes:
            keep.append(name)
    return keep


def _write_spark_parquet(spark: SparkSession, t: "pa.Table", path: str) -> None:
    """Write ``t`` as one snappy part file under directory ``path``
    with the footer keys Spark's own writer sets: the Spark row schema
    ``t`` carries (:data:`_SPARK_SCHEMA_KEY`, read back by
    :func:`_footer_schema`, so no read of the directory infers) and the
    writer version (:data:`_SPARK_VERSION_KEY`), dictionary-encoding
    the columns Spark's writer would (:func:`_dictionary_columns`)."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    meta = {**t.schema.metadata, _SPARK_VERSION_KEY: spark.version.encode()}
    pq.write_table(
        t.replace_schema_metadata(meta),
        os.path.join(path, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
        compression="snappy",
        use_dictionary=_dictionary_columns(t),
    )


_DV_SCHEMA = T.StructType([
    T.StructField("file_path", T.StringType()),
    T.StructField("row_index", T.LongType()),
])


def _write_dv_on_driver(
    spark: SparkSession, version_dir: str, legacy_dir: str, pos: "pa.Table"
) -> None:
    """The driver form of :func:`write_deletion_vectors` ``positions=``:
    the :data:`_POS_FP`/:data:`_POS_RI` positions of ``pos`` merge with
    the inherited sidecar (normalized as :func:`_dv_positions` does,
    re-rooted against ``legacy_dir`` too), sorted by (``file_path``,
    ``row_index``) and swapped in (:func:`_publish_dv`). One-pass
    positions are disjoint from the inherited mask, so no dedup."""
    import pyarrow as pa

    _dv_recover_interrupted_swap(version_dir)
    dv = pa.table({
        "file_path": pos[_POS_FP].cast(pa.string()),
        "row_index": pos[_POS_RI].cast(pa.int64()),
    })
    existing = _dv_positions(version_dir, legacy_dir=legacy_dir)
    if existing is not None:
        dv = pa.concat_tables([existing, dv])
    dv = _sort_rows(dv, ["file_path", "row_index"])
    tmp = os.path.join(version_dir, _DV_DIR + ".tmp-" + uuid.uuid4().hex[:8])
    _write_spark_parquet(
        spark,
        dv.replace_schema_metadata({_SPARK_SCHEMA_KEY: _DV_SCHEMA.json()}),
        tmp,
    )
    _publish_dv(version_dir, tmp, existing is not None)


def _write_sliver(
    spark: SparkSession, base: str, out: str, key: str, sliver: dict
) -> None:
    """The driver form of :func:`_write_dml`: write the parts
    :func:`_collect_sliver` collected into candidate ``out`` linked from
    ``base`` with pyarrow and no Spark job — the ``pos`` mask
    (:func:`_write_dv_on_driver`), the ``img`` rows as one part file and
    the ``cdf`` rows as the ``_changes`` sidecar, both sorted by
    ``key`` — each skipped when absent or empty, then drop the
    inherited skip manifests."""
    if sliver.get("pos") is not None and sliver["pos"].num_rows:
        _write_dv_on_driver(spark, out, base, sliver["pos"])
    for name, path in (("img", out), ("cdf", os.path.join(out, _CHANGES_DIR))):
        t = sliver.get(name)
        if t is not None and t.num_rows:
            _write_spark_parquet(spark, _sort_rows(t, [key]), path)
    _drop_skip_manifests(out)


def delete_where_build(
    spark: SparkSession,
    base: str,
    out: str,
    predicate: str,
    key: str,
    cdf: bool,
) -> tuple[bool, int]:
    """DELETE the ``predicate`` rows of version ``base`` into candidate
    ``out`` with deletion vectors: ``base``'s files hard-link in, the
    matching rows of its MASKED view are masked positionally (inherited
    masks merge; ``legacy_dir`` re-roots a legacy-format one) and, with
    ``cdf``, their pre-images become the ``_changes`` sidecar.

    ONE-PASS: the masked base is scanned once carrying its positions;
    the positions and the CDF pre-images (newly masked rows == matching
    rows of the MASKED base: already-masked rows can't re-delete, so
    predicate DML knows its own delta, no diff join) project from the
    matched sliver. One bounded collect (:func:`_collect_sliver`)
    brings a sliver to the driver, which writes it
    (:func:`_write_sliver`); a larger one is persisted and written by
    Spark.

    Returns ``(publish, n_total)``: ``n_total`` counts ALL masked
    positions (inherited + new). A predicate masking nothing new
    creates no candidate and returns ``(False, prior_total)``."""
    prior_total = _dv_position_count(base)
    matched = _masked_scan(spark, base, positions=True).filter(predicate)
    types = dict(matched.dtypes)
    cols = [c for c in matched.columns if c not in (key, *_POS_COLS)]
    every = F.lit(True)
    parts = {
        "pos": (every, [F.col(_POS_FP), F.col(_POS_RI)]),
        "cdf": (every, [
            F.col(key),
            F.lit("delete").alias("change_type"),
            *[F.lit(None).cast(types[c]).alias(c) for c in cols],
            *[F.col(c).alias(f"old_{c}") for c in cols],
        ]) if cdf else None,
    }
    sliver = _collect_sliver(base, matched, parts)
    if sliver is not None:
        n_new = sliver["pos"].num_rows
        if n_new:
            with _candidate(base, out):
                _write_sliver(spark, base, out, key, sliver)
        return bool(n_new), prior_total + n_new
    if cdf:  # the mask and the change rows both read the sliver
        matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with _candidate(base, out):
            n_total = write_deletion_vectors(
                spark, out, legacy_dir=base,
                positions=_project(matched, parts["pos"]),
            )
            if n_total == prior_total:  # positions are distinct: equal
                shutil.rmtree(out)      # count == no new masked rows
                return False, prior_total
            if cdf:
                _changes_write(_project(matched, parts["cdf"]), out)()
    finally:
        if cdf:
            matched.unpersist()
    return True, n_total


def update_where_build(
    spark: SparkSession,
    base: str,
    out: str,
    predicate: str,
    set_exprs: dict[str, str],
    key: str,
    cdf: bool,
) -> tuple[bool, int]:
    """UPDATE the ``predicate`` rows of version ``base`` into candidate
    ``out``: ``base``'s files hard-link in, the matched rows' old
    images are masked positionally, and their new images (``set_exprs``
    evaluated against the pre-update MASKED row, so deleted rows never
    resurrect) are appended right-sized and partition-aware. With
    ``cdf`` one ``update`` row per key (post + pre image) becomes the
    ``_changes`` sidecar.

    ONE-PASS (round 11): the masked base is scanned once carrying its
    physical positions; the positions, the images and the CDF rows are
    all projections of the matched sliver. One bounded collect of them
    (:func:`_collect_sliver`) brings a sliver to the driver, which
    writes it (:func:`_write_sliver`); ``n_updated`` is the collected
    positions' count. A larger match is persisted and written by Spark:
    the mask is written BEFORE the append, so an update that keeps its
    own predicate true cannot mask its fresh images, and ``n_updated``
    falls out of the mask write (new distinct positions), so no count
    pre-pass runs.

    Returns ``(publish, n_updated)``; an empty match creates no
    candidate and returns ``(False, 0)``."""
    snap_pos = _masked_scan(spark, base, positions=True)
    data_cols = [c for c in snap_pos.columns if c not in _POS_COLS]
    unknown = [c for c in set_exprs if c not in data_cols]
    if unknown:
        raise ValueError(f"update_where: unknown columns {unknown}")
    types = dict(snap_pos.dtypes)
    matched = snap_pos.filter(predicate)
    new = {c: F.expr(e).cast(types[c]) for c, e in set_exprs.items()}
    cols = [c for c in data_cols if c != key]
    every = F.lit(True)
    parts = {
        "pos": (every, [F.col(_POS_FP), F.col(_POS_RI)]),
        "img": (every, [new.get(c, F.col(c)).alias(c) for c in data_cols]),
        "cdf": (every, [
            F.col(key),
            F.lit("update").alias("change_type"),
            *[new.get(c, F.col(c)).alias(c) for c in cols],
            *[F.col(c).alias(f"old_{c}") for c in cols],
        ]) if cdf else None,
    }
    sliver = _collect_sliver(base, matched, parts)
    if sliver is not None:
        n = sliver["pos"].num_rows
        if n:
            with _candidate(base, out):
                _write_sliver(spark, base, out, key, sliver)
        return bool(n), n
    matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    prior_total = _dv_position_count(base)
    try:
        with _candidate(base, out):
            n = write_deletion_vectors(
                spark, out, legacy_dir=base,
                positions=_project(matched, parts["pos"]),
            ) - prior_total
            if n == 0:  # positions are distinct: equal count == no match
                shutil.rmtree(out)
                return False, 0
            _write_dml(
                spark, base, out, None, _project(matched, parts["img"]), n,
                _project(matched, parts["cdf"]),
            )
    finally:
        matched.unpersist()
    return True, n


def merge_into_build(
    spark: SparkSession,
    base: str,
    out: str,
    plan: dict,
    key: str,
    cdf: bool,
) -> tuple[bool, dict[str, int]]:
    """Apply a :func:`derive_merge_clauses` ``plan`` over version
    ``base`` into candidate ``out``: ``base``'s files hard-link in,
    every deleted-or-updated row is masked positionally, updated and
    inserted images append right-sized, and with ``cdf`` the change
    rows become the ``_changes`` sidecar, all three projections of the
    cached clause-tagged join (``plan["parts"]``). The plan's counts
    give the join's row count, so a sliver is collected by one job and
    written on the driver (:func:`_collect_sliver`,
    :func:`_write_sliver`) and a larger merge by Spark
    (:func:`_write_dml`). A schema-evolving plan marks ``out``
    mixed-schema (the linked files keep the narrow schema). The plan's
    cached join is released on every path.

    Returns ``(publish, counts)``; a plan touching nothing creates no
    candidate and returns ``(False, counts)``."""
    counts = plan["counts"]
    tagged = plan["materialized"]
    try:
        if not any(counts.values()):
            return False, counts
        n_masked = counts["updated"] + counts["deleted"] \
            + counts["deleted_by_source"]
        n_images = counts["updated"] + counts["inserted"]
        parts = {
            "pos": plan["parts"]["pos"] if n_masked else None,
            "img": plan["parts"]["img"] if n_images else None,
            "cdf": plan["parts"]["cdf"] if cdf else None,
        }
        sliver = _collect_sliver(base, tagged, parts, sum(counts.values()))
        with _candidate(base, out):
            if sliver is not None:
                _write_sliver(spark, base, out, key, sliver)
            else:
                _write_dml(
                    spark, base, out, _project(tagged, parts["pos"]),
                    _project(tagged, parts["img"]), n_images,
                    _project(tagged, parts["cdf"]),
                )
            if plan["evolved"]:
                # linked files keep the narrow schema; readers must
                # footer-merge from now on (see _MIXED_SCHEMA_MARKER)
                open(os.path.join(out, _MIXED_SCHEMA_MARKER), "w").close()
    finally:
        tagged.unpersist()
    return True, counts


def apply_changes_build(
    spark: SparkSession, base: str, out: str, changes: DataFrame, key: str,
    cdf: bool,
) -> tuple[bool, dict[str, int]]:
    """Apply a change set the caller already computed against version
    ``base`` into candidate ``out`` — how a maintained view integrates
    its own delta instead of re-deriving it through a MERGE.
    ``changes`` is key-unique and in :func:`diff_frames`
    ``include_old=True`` shape (``key``, ``change_type``, post images,
    ``old_*`` pre-images) plus the position columns of the pass that
    found its old rows: its old side is :func:`_masked_scan`
    ``positions=True`` of ``base``, whose positions
    :func:`diff_frames` and ``operators.ivm.rollup_delta_changes``
    carry onto every ``update``/``delete`` row. ``base``'s files
    hard-link in, those positions ARE the mask (Delta's rule: DML
    masks the rows the pass that located them found; ``base``'s data
    is not read again), the ``update``/``insert`` post images append
    right-sized, cast to the types of ``base``'s footer, and with
    ``cdf`` the change rows without their positions are the
    ``_changes`` sidecar.

    One bounded collect of those three projections runs first
    (:func:`_collect_sliver`), so a caller should cache an expensive
    change frame. A sliver is counted and written on the driver
    (:func:`_write_sliver`) with no further Spark job; past the bound
    one counts aggregate over ``changes`` runs and Spark writes
    (:func:`_write_dml`). Either count also counts the
    ``update``/``delete`` rows whose positions were not read from
    ``base`` (``_ffs_pos_v``): any such row means the change set was
    not computed against this version, and ``ValueError`` is raised
    before a candidate exists. A change set without the position
    columns is refused with ``ValueError`` as well.

    Returns ``(publish, counts)`` with :func:`merge_into_build`'s count
    keys; an empty change set creates no candidate and returns
    ``(False, counts)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    missing = [c for c in _POS_COLS if c not in changes.columns]
    if missing:
        raise ValueError(
            f"apply_changes: the change set lacks the position columns "
            f"{missing} — diff against _masked_scan(..., positions=True) "
            "of the version it applies to"
        )
    kind = F.col("change_type")
    masked = kind.isin("update", "delete")
    base_name = os.path.basename(os.path.normpath(base))
    types = _version_reader(spark, base).parquet(base).dtypes
    parts = {
        # the kind and version ride along for the driver's counts
        "pos": (masked, [kind, *[F.col(c) for c in _POS_COLS]]),
        "img": (
            kind.isin("update", "insert"),
            [F.col(c).cast(t).alias(c) for c, t in types],
        ),
        "cdf": (
            F.lit(True),
            [F.col(c) for c in changes.columns if c not in _POS_COLS],
        ) if cdf else None,
    }
    sliver = _collect_sliver(base, changes, parts)
    if sliver is None:
        row = changes.agg(
            *[
                F.count(F.when(kind == c, 1)).alias(c)
                for c in ("update", "delete", "insert")
            ],
            F.count(F.when(
                masked & ~F.col(_POS_V).eqNullSafe(F.lit(base_name)), 1
            )).alias("stale"),
        ).first().asDict()
    else:
        pos = sliver["pos"]
        n = {
            c: pc.sum(pc.equal(pos["change_type"], c)).as_py() or 0
            for c in ("update", "delete")
        }
        named = pc.equal(pos[_POS_V], pa.scalar(base_name))
        row = {
            **n,
            "insert": sliver["img"].num_rows - n["update"],
            "stale": pos.num_rows - (pc.sum(named).as_py() or 0),
        }
    if row["stale"]:
        raise ValueError(
            f"apply_changes: {row['stale']} update/delete rows carry "
            f"positions not read from {base} — the change set was not "
            "computed against this version"
        )
    counts = {"updated": row["update"], "deleted": row["delete"],
              "inserted": row["insert"], "deleted_by_source": 0}
    if not any(counts.values()):
        return False, counts
    with _candidate(base, out):
        if sliver is not None:
            _write_sliver(spark, base, out, key, sliver)
        else:
            _write_dml(
                spark, base, out,
                _project(changes, parts["pos"])
                if counts["updated"] or counts["deleted"] else None,
                _project(changes, parts["img"]),
                counts["updated"] + counts["inserted"],
                _project(changes, parts["cdf"]),
            )
    return True, counts


def restore_build(
    spark: SparkSession,
    target: str,
    out: str,
    key: str,
    head: Optional[str] = None,
) -> None:
    """Link version ``target`` into candidate ``out`` — a RESTORE costs
    O(filecount) metadata: the deletion-vector sidecar copies with the
    files (positions are version-relative and names are preserved, so
    the restored view keeps the target's masked state). With ``head``,
    the diff ``head`` -> ``target`` becomes this restore's own
    ``_changes`` sidecar, so CDF consumers see the rollback as ordinary
    retractions/updates."""
    with _candidate(target, out):
        if head is not None:
            _changes_write(
                diff_frames(
                    read_with_deletion_vectors(spark, head),
                    read_with_deletion_vectors(spark, target),
                    key,
                    include_old=True,
                ),
                out,
            )()


def zorder_cluster(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int = 32,
    buckets_per_dim: int = 256,
) -> DataFrame:
    """The OPTIMIZE-ZORDER clustering PLAN, shared by
    :meth:`DocumentStore.optimize_zorder` (single-writer) and the
    lock-free ``TransactionalParquetBackend.optimize_zorder`` — one
    definition so the two backends can never cluster differently.
    Both columns must be integer-valued (cast dates to epoch-days
    first). Values are bucketed onto a ``buckets_per_dim`` grid from
    exact min/max aggregates, bit-interleaved
    (``operators.layout.morton_key_expr`` — pure shift/mask
    arithmetic), range-partitioned on the key and sorted within
    partitions, so every data file covers a compact rectangle in
    (x, y) space and its footer min/max prune scans filtered on
    EITHER dimension."""
    if "_ffs_zkey" in df.columns:
        raise ValueError(
            "column '_ffs_zkey' is reserved by optimize_zorder"
        )
    from far_finer_airtable_firestore_sync_spark.operators.layout import (
        morton_key_expr,
    )

    if not 1 <= buckets_per_dim <= 65536:
        raise ValueError(
            "buckets_per_dim must be in [1, 65536]: the Morton "
            "interleave spreads 16 bits per dimension, so larger "
            "grids would silently alias distant buckets"
        )
    mnx, mxx, mny, mxy = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).first()
    if mnx is None or mny is None:
        bad = x_col if mnx is None else y_col
        raise ValueError(
            f"optimize_zorder: column {bad!r} has no non-NULL "
            "values to derive a bucket grid from"
        )
    wx = max(1, (int(mxx) - int(mnx) + buckets_per_dim) // buckets_per_dim)
    wy = max(1, (int(mxy) - int(mny) + buckets_per_dim) // buckets_per_dim)
    bx = f"((`{x_col}` - {int(mnx)}) div {wx})"
    by = f"((`{y_col}` - {int(mny)}) div {wy})"
    zkey = morton_key_expr(bx, by, "spark")
    return (
        df.withColumn("_ffs_zkey", F.expr(zkey))
        .repartitionByRange(n_files, "_ffs_zkey")
        .sortWithinPartitions("_ffs_zkey")
        .drop("_ffs_zkey")
    )


def derive_merge_clauses(
    snap: DataFrame,
    source: DataFrame,
    key: str,
    when_matched_update: Optional[dict[str, str]],
    update_condition: Optional[str],
    when_matched_delete: Optional[str],
    when_not_matched_insert: bool,
    when_not_matched_by_source_delete: Optional[str] = None,
    schema_evolution: bool = False,
) -> dict:
    """Validate and derive the clause outcomes of a MERGE — the
    engine-independent half shared by
    :meth:`DocumentStore.merge_into` (single-writer pointer flip) and
    ``TransactionalParquetBackend.merge_into`` (lock-free CAS): both
    need the same matched/not-matched split, the same
    duplicate-source guard, and the same image/position frames;
    only the commit protocol differs.

    ``snap`` is the MASKED current snapshot carrying its physical
    positions (:func:`_masked_scan` ``positions=True``; deleted rows must
    never resurrect through a merge). Eagerly counts every clause so a bad
    expression fails BEFORE the caller links a candidate directory —
    and all four counts come from ONE aggregate over ONE clause-tagged
    full-outer join (r10 VERDICT "what's wrong" #1: the previous shape
    paid three validation actions — a matched-join aggregate plus two
    anti-join counts — then recomputed the same joins for the write;
    at 100 TB that is ~2× the merge's join cost spent on fail-fast
    counters). The single join is tagged per row with its winning
    clause, the counts fold map-side, and every part the commit writes
    (``plan["parts"]``: mask positions, images, change rows; see
    :func:`_project`) is a filter and projection of the same tagged
    plan. Round 11: the tagged join is PERSISTED
    (``plan["materialized"]`` — callers unpersist when the commit or
    rejection is done), so the join EXECUTES once — the counts action
    populates the cache and the commit's collect (or, past the
    driver-write bound, its DV/append/CDF writes) reads it back instead
    of re-running the snap⋈source join per consumer.

    ``when_not_matched_by_source_delete`` is Delta's third clause
    family: target rows with NO source match are deleted when the
    condition (SQL over bare target columns; ``"true"`` for
    unconditional) holds — the full-sync shape (source = complete
    desired state => matched rows update, unmatched target rows
    leave). The condition is evaluated on the TARGET side BEFORE the
    join (it references bare target columns; inside the joined frame
    a same-named source column would capture them), tags
    ``nbs_delete`` rows and is masked like the other deletes.

    ``schema_evolution=True`` lifts the new-source-column rejection
    (r10 VERDICT "what's missing" #5 — Delta's
    ``withSchemaEvolution()`` MERGE): source columns absent from the
    target WIDEN the target schema, the snapshot side is backfilled
    with typed NULLs (types taken from the source), updated images
    keep their backfilled NULL unless the update clause sets the new
    column, and inserted images carry the source values. The caller
    must mark the published version mixed-schema
    (:data:`_MIXED_SCHEMA_MARKER`) because untouched linked files
    still carry the narrow schema. Returns the new columns as
    ``plan["evolved"]``."""
    if when_matched_update is None and when_matched_delete is None \
            and not when_not_matched_insert \
            and when_not_matched_by_source_delete is None:
        raise ValueError("merge_into: no clauses given")
    if key not in source.columns:
        raise ValueError(f"merge_into: source lacks key column {key!r}")
    # ONE-PASS positions (round 11): the position columns ride the
    # clause-tagged join's t-side and the deletion-vector mask is a
    # projection of the SAME cached frame
    # (``plan["touched_positions"]``) — the previous shape re-scanned
    # the whole version and semi-joined the touched keys a second
    # time just to learn the positions.
    for pos_col in _POS_COLS:
        if pos_col in source.columns:
            raise ValueError(
                f"column {pos_col!r} is reserved by merge_into's "
                "one-pass position path; rename it in the source"
            )
    payload = [c for c in snap.columns if c not in _POS_COLS]
    extra = [c for c in source.columns if c not in payload]
    if extra and not schema_evolution:
        raise ValueError(
            f"merge_into: source columns {extra} absent from target "
            "(pass schema_evolution=True to widen, or commit())"
        )
    if extra:
        src_types = dict(source.dtypes)
        for c in extra:
            snap = snap.withColumn(c, F.lit(None).cast(src_types[c]))
        payload = payload + extra
    types = dict(snap.dtypes)
    if when_matched_update:
        unknown = [
            c for c in when_matched_update if c not in payload
        ]
        if unknown:
            raise ValueError(f"merge_into: unknown columns {unknown}")
    for reserved in ("_ffs_mt", "_ffs_ms", "_ffs_nbs", "_ffs_clause"):
        if reserved in snap.columns or reserved in source.columns:
            raise ValueError(
                f"column {reserved!r} is reserved by merge_into"
            )
    # Ambiguous-source guard. When the clause shape provably tags
    # EVERY source row (insert enabled + ungated update clause:
    # matched rows take update-or-delete, unmatched rows insert), the
    # duplicate-key probe folds into the fused validation aggregate
    # below — zero extra actions (round 11; guide §1.2 "don't compute
    # things you throw away": the probe re-scanned the source per
    # merge). Otherwise — a gated update or disabled insert can DROP
    # clauseless source rows from the tagged frame — the original
    # source-level probe runs, preserving the strict contract that a
    # duplicate key anywhere in the source rejects.
    fused_guards = (
        when_not_matched_insert
        and when_matched_update is not None
        and update_condition is None
    )
    if not fused_guards:
        # bounded probe, not a full count
        if source.groupBy(key).count().filter("count > 1").limit(1).count():
            raise ValueError(
                "merge_into: source has duplicate keys — per-target-row "
                "clause outcome would be nondeterministic"
            )
    # Presence comes from literal marker columns (the diff_frames
    # rule): an outer row's NULL key cannot distinguish "no match"
    # from a NULL-keyed row. The nbs condition is pre-evaluated on
    # the bare target frame (see docstring).
    t_pre = snap.withColumn("_ffs_mt", F.lit(1)).withColumn(
        "_ffs_nbs",
        F.coalesce(
            F.expr(when_not_matched_by_source_delete), F.lit(False)
        )
        if when_not_matched_by_source_delete is not None
        else F.lit(False),
    )
    t = t_pre.alias("t")
    s = source.withColumn("_ffs_ms", F.lit(1)).alias("s")
    # Join type (round 12, guide §3.1): target rows with NO source
    # match can only take the nbs_delete clause — when that clause is
    # absent they are filtered out of the tagged frame unconditionally,
    # so preserving them through a FULL outer join is pure waste: at
    # 100 TB a sliver merge's full-outer emits every target row just
    # to drop all but the sliver. RIGHT outer (all source rows + their
    # matches) yields the IDENTICAL tagged frame, emits O(source) rows,
    # and — unlike full outer, which no broadcast strategy supports —
    # lets AQE pick a broadcast hash join when a side is small.
    join_type = (
        "full_outer"
        if when_not_matched_by_source_delete is not None
        else "right_outer"
    )
    fo = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), join_type)
    t_here = F.col("t._ffs_mt").isNotNull()
    s_here = F.col("s._ffs_ms").isNotNull()
    # three-valued logic: a NULL delete condition means NOT deleted
    # (SQL/Delta MERGE semantics) — without the coalesce, ~NULL is
    # NULL and the update clause would silently skip the row (a lost
    # update, an undercount, and a missing CDF row)
    del_cond = (
        F.coalesce(F.expr(when_matched_delete), F.lit(False))
        if when_matched_delete
        else F.lit(False)
    )
    upd_cond = (~del_cond) if when_matched_update else F.lit(False)
    if when_matched_update and update_condition:
        upd_cond = upd_cond & F.expr(update_condition)
    clause = (
        F.when(t_here & s_here & del_cond, "delete")
        .when(t_here & s_here & upd_cond, "update")
        .when(s_here & ~t_here & F.lit(when_not_matched_insert), "insert")
        .when(t_here & ~s_here & F.col("t._ffs_nbs"), "nbs_delete")
    )
    tagged = fo.withColumn("_ffs_clause", clause).filter(
        F.col("_ffs_clause").isNotNull()
    )
    # Materialize the clause-tagged join ONCE (Delta's merge-source
    # materialization; optimization guide §5 — cache exactly the
    # frame every consumer re-reads): the validation counts, the DV
    # key set, the updated/inserted images and the CDF rows are ALL
    # filters over this one frame, and without the persist each of
    # those 3-5 actions re-executed the full snap⋈source join — at
    # 100 TB a merge paid the join several times over. The frame is
    # O(rows a clause touches) — sliver-sized for routine DML;
    # MEMORY_AND_DISK spills a backfill-sized merge instead of
    # evicting or OOMing. The counts aggregate below is the action
    # that populates the cache; callers unpersist via
    # ``plan["materialized"]`` once the commit (or rejection) is done.
    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE action for all four clause counts (fused validation). On
    # the fused-guards path the same action ALSO carries the
    # duplicate-source probe: a per-key pre-aggregation (which reuses
    # the join's key partitioning — no extra exchange) feeds the global
    # fold, so validation costs zero additional jobs on top of the
    # counts the merge needs anyway.
    clause_names = ("delete", "update", "insert", "nbs_delete")
    try:
        if fused_guards:
            per_key = tagged.groupBy(
                F.col(f"s.{key}").alias("_ffs_sk")
            ).agg(
                *[
                    F.count(
                        F.when(F.col("_ffs_clause") == c, 1)
                    ).alias(c)
                    for c in clause_names
                ],
                F.count(F.when(s_here, 1)).alias("_ffs_nsrc"),
            )
            crow = per_key.agg(
                *[
                    F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
                    for c in clause_names
                ],
                F.max("_ffs_nsrc").alias("_ffs_maxsrc"),
                F.sum(
                    F.when(
                        F.col("_ffs_sk").isNull(), F.col("_ffs_nsrc")
                    ).otherwise(F.lit(0))
                ).alias("_ffs_nullsrc"),
            ).first()
            # the original guard groups NULL keys as one bucket too
            if (crow["_ffs_maxsrc"] or 0) > 1 \
                    or (crow["_ffs_nullsrc"] or 0) > 1:
                raise ValueError(
                    "merge_into: source has duplicate keys — "
                    "per-target-row clause outcome would be "
                    "nondeterministic"
                )
        else:
            crow = tagged.agg(
                *[
                    F.count(
                        F.when(F.col("_ffs_clause") == c, 1)
                    ).alias(c)
                    for c in clause_names
                ]
            ).first()
    except BaseException:
        tagged.unpersist()  # a rejected merge must not leak its cache
        raise
    counts = {
        "updated": crow["update"],
        "deleted": crow["delete"],
        "inserted": crow["insert"],
        "deleted_by_source": crow["nbs_delete"],
    }
    # The commit's parts (see ``_project``) are projections of the
    # cached tagged join, each row one clause outcome: an updated or
    # inserted row's image, NULL on a deleted row; its target image
    # (``t.*``), NULL on an inserted row.
    tag = F.col("_ffs_clause")
    image = {
        c: F.when(
            tag == "update",
            F.expr(when_matched_update[c]).cast(types[c])
            if when_matched_update and c in when_matched_update
            else F.col(f"t.{c}"),
        ).when(
            tag == "insert",
            F.col(f"s.{c}").cast(types[c])
            if c in source.columns
            else F.lit(None).cast(types[c]),
        )
        for c in payload
    }
    cols = [c for c in payload if c != key]
    return {
        "counts": counts,
        "evolved": extra,
        "materialized": tagged,
        "parts": {
            # positions of every masked row, off the t-side
            "pos": (tag.isin("delete", "update", "nbs_delete"), [
                F.col(f"t.{_POS_FP}").alias(_POS_FP),
                F.col(f"t.{_POS_RI}").alias(_POS_RI),
            ]),
            "img": (
                tag.isin("update", "insert"),
                [image[c].alias(c) for c in payload],
            ),
            # the change feed, in the sidecar shape predicate DML writes
            "cdf": (F.lit(True), [
                F.when(tag == "insert", image[key])
                .otherwise(F.col(f"t.{key}")).alias(key),
                F.when(tag == "nbs_delete", "delete").otherwise(tag)
                .alias("change_type"),
                *[image[c].alias(c) for c in cols],
                *[F.col(f"t.{c}").alias(f"old_{c}") for c in cols],
            ]),
        },
    }


def diff_frames(
    old_df: DataFrame,
    new_df: DataFrame,
    key: str,
    include_old: bool = False,
) -> DataFrame:
    """PUBLIC CDC seam: the row-diff plan shared by
    :meth:`DocumentStore.diff_versions` (full snapshots),
    :meth:`DocumentStore.repair_rows` (bucket-pruned inputs), the
    change feed, ``operators.ivm.incremental_join_rollup`` (which
    diffs the affected join-view slices into the view's own CDC) and
    every streaming IVM commit (``streaming.sync``, through
    :meth:`DocumentStore.apply_changes`) —
    one null-safe full-outer join on ``key`` emitting
    (key, change_type, post-image columns[, old_<col> pre-images]
    [, the old side's position columns]).

    NULL-key handling (review finding): the join is NULL-SAFE and
    presence comes from literal marker columns, never from the key
    — a plain equi-join can't match NULL keys, so an UNCHANGED
    NULL-key row used to emit two phantom 'insert' rows and a
    deleted one was mislabeled 'insert' with an all-NULL payload,
    breaking the repair_rows == diff_versions completeness
    contract (repair correctly pruned the bucket; the diff lied).

    SCHEMA EVOLUTION (r8): versions are allowed to differ in
    columns — the document-store contract (the reference's
    Firestore is schemaless; a spec gaining or losing a field
    must not break CDC). Each side is backfilled with the other's
    missing columns as typed NULLs and the comparison runs over
    the UNION of columns, so a row whose only change is a
    newly-populated (or dropped) field is correctly an 'update'
    and the payload carries the new snapshot's view (NULL for
    dropped columns). A key-column TYPE change across versions
    remains out of scope (rewrite, not evolve).

    POSITION CARRY: when ``old_df`` is a :func:`_masked_scan`
    ``positions=True`` scan (or a slice of one), its
    position columns (``_ffs_pos_fp``, ``_ffs_pos_ri``,
    ``_ffs_pos_v``) ride the join unchanged and close each change
    row: the positions of the old row on ``update``/``delete`` rows
    (a NULL-key row's too — the join is null-safe), NULL on
    ``insert`` rows. They are never compared or backfilled, so an
    unchanged row emits nothing whatever its position; ``new_df``'s
    own position columns, if any, are dropped. That is what lets
    :meth:`DocumentStore.apply_changes` mask the old rows without
    searching ``old_df``'s version for them again."""
    for reserved in ("_ffs_diff_o", "_ffs_diff_n"):
        if reserved in old_df.columns or reserved in new_df.columns:
            raise ValueError(
                f"column {reserved!r} is reserved by diff_versions/"
                "repair_rows; rename it in the snapshot"
            )
    # CASE-INSENSITIVE membership (r8 second-wave review finding):
    # Spark resolves column names case-insensitively by default,
    # so 'Bal' -> 'bal' across versions is the SAME column to the
    # comparison below — treating it as missing would make
    # withColumn REPLACE the existing data with NULLs on both
    # sides and silently drop every value change from the diff.
    pos = [c for c in _POS_COLS if c in old_df.columns]
    new_df = new_df.drop(*_POS_COLS)
    old_names = {c.lower() for c in old_df.columns}
    new_names = {c.lower() for c in new_df.columns}
    dropped = [
        (c, t) for c, t in old_df.dtypes
        if c.lower() not in new_names and c not in pos
    ]
    for c, t in new_df.dtypes:
        if c.lower() not in old_names:
            old_df = old_df.withColumn(c, F.lit(None).cast(t))
    for c, t in dropped:
        new_df = new_df.withColumn(c, F.lit(None).cast(t))
    old = old_df.withColumn("_ffs_diff_o", F.lit(1)).alias("o")
    new = new_df.withColumn("_ffs_diff_n", F.lit(1)).alias("n")
    cols = [c for c in new_df.columns if c != key]
    j = old.join(
        new, F.col(f"o.{key}").eqNullSafe(F.col(f"n.{key}")), "full_outer"
    )
    o_present = F.col("o._ffs_diff_o").isNotNull()
    n_present = F.col("n._ffs_diff_n").isNotNull()
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(~o_present, F.lit("insert"))
        .when(~n_present, F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    # evaluate the when-chain ONCE (withColumn), then filter+project
    # on the materialized column — Spark does not CSE the chain's
    # column-wise eqNullSafe comparisons across operators
    out_cols = [
        F.coalesce(F.col(f"n.{key}"), F.col(f"o.{key}")).alias(key),
        "change_type",
        *[F.col(f"n.{c}").alias(c) for c in cols],
    ]
    if include_old:
        out_cols += [F.col(f"o.{c}").alias(f"old_{c}") for c in cols]
    out_cols += [F.col(f"o.{c}").alias(c) for c in pos]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*out_cols)
    )


def bucket_of_key_expr(
    key_string_expr: str, n_buckets: int, dialect: str
) -> str:
    """Per-row bucket id — THE definition shared by the checksum body
    and the repair path's pruning scan (drift and repair must bucket
    identically or repair misses rows). NULL keys land in a real
    bucket via the sentinel (round-5 ADVICE)."""
    from far_finer_airtable_firestore_sync_spark.functions import textsql as tx

    key_s = f"coalesce({key_string_expr}, '__NULL_KEY__')"
    h = tx.hex_to_bigint(f"substring(md5({key_s}), 1, 14)", dialect)
    return f"({h} % {n_buckets})"


def bucket_drift_body(
    dialect: str,
    old_rel: str,
    new_rel: str,
    row_string_expr: str,
    key_string_expr: str,
    n_buckets: int = 64,
) -> str:
    """Dual-dialect SQL for `DocumentStore.bucket_drift`: per-bucket
    (count, checksum) over both relations, full-outer joined on the
    bucket, diverging buckets only. The checksum is sum of 56-bit md5
    digests reduced mod 2^56 — the sum widens to decimal(38,0)/hugeint
    first (bigint would overflow past ~128 rows/bucket), and the mod
    is expressed as `x - (x div 2^56) * 2^56` because decimal `%` is
    not portable while `div` is.

    NULL-proofing (round-5 ADVICE): a row whose rendered string is
    NULL would get a NULL digest that sum() silently skips while
    count(*) still counts it — content drift in such rows would be
    invisible — and a NULL key would hash to a NULL bucket the
    equi-join could never match, reporting identical NULL-key
    populations as always diverging. Both rendered expressions are coalesced
    to sentinels so every row contributes a digest and lands in a real
    bucket, and the bucket join is null-safe (`is not distinct from`)
    as a second line of defense."""
    from far_finer_airtable_firestore_sync_spark.functions import textsql as tx

    spark_d = dialect == "spark"
    intdiv = "div" if spark_d else "//"
    wide = "decimal(38,0)" if spark_d else "hugeint"
    row_s = f"coalesce({row_string_expr}, '__NULL_ROW__')"
    h_row = tx.hex_to_bigint(f"substring(md5({row_s}), 1, 14)", dialect)
    # bucket id via THE shared definition — repair_rows prunes with
    # the same expression; an inlined copy here could silently
    # desynchronize drift from repair (review finding)
    bucket = bucket_of_key_expr(key_string_expr, n_buckets, dialect)
    two56 = 1 << 56

    def side(rel: str) -> str:
        return f"""
  select bucket, n,
         cast(total - (total {intdiv} cast({two56} as {wide}))
                      * cast({two56} as {wide}) as bigint) as chk
  from (
    select bucket, sum(cast(digest as {wide})) as total,
           cast(count(*) as bigint) as n
    from (select {bucket} as bucket, {h_row} as digest from {rel})
    group by bucket
  ) t
"""

    return f"""
with ob as ({side(old_rel)}),
nb as ({side(new_rel)})
select coalesce(o.bucket, n.bucket) as bucket,
       o.n as n_old, n.n as n_new,
       o.chk as chk_old, n.chk as chk_new
from ob o full outer join nb n on o.bucket is not distinct from n.bucket
where o.n is distinct from n.n or o.chk is distinct from n.chk
"""


def write_zone_manifest(version_dir: str) -> dict:
    """Per-file zone maps (min/max/nulls per primitive column) from
    the parquet FOOTERS of a committed version — no data scan; the
    Delta/Iceberg data-skipping core as a sidecar
    ``_zone_manifest.json``. Hive-partition columns are not in the
    footers and are covered by Spark's own partition pruning; zone
    maps add skipping on the NON-partition columns (a range-sorted
    write gives disjoint per-file ranges — the Z-order/sort-order
    contract).

    Driver-side cost is one footer read per part file: at 100 TB a
    version has O(filecount) footers, the same listing the commit
    itself performs — and the manifest turns every later selective
    read into an O(manifest) file-list prune instead of a full scan.
    """
    import pyarrow.parquet as pq

    manifest: dict = {}
    for root, dirs, files in os.walk(version_dir):
        # sidecar dirs (_deletion_vectors, ...) are not data files —
        # Spark's reader skips underscore paths and so must the zones
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            md = pq.ParquetFile(path).metadata
            cols: dict = {}
            # A column whose stats are unusable in ANY row group must
            # end the file with NO zone at all: a partial min/max
            # (some row groups merged, others silently skipped) is a
            # LOSSY zone — prune_files_by_zone would skip a file whose
            # un-merged row group holds matching rows (review finding).
            poisoned: set = set()
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in poisoned:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        poisoned.add(name)
                        continue
                    try:
                        mn, mx = st.min, st.max
                    except NotImplementedError:  # INT96 timestamps
                        poisoned.add(name)
                        continue
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            poisoned.add(name)
                            continue
                    if hasattr(mn, "isoformat"):
                        mn, mx = mn.isoformat(), mx.isoformat()
                    if not isinstance(mn, (bool, int, float, str)):
                        poisoned.add(name)  # no JSON form (decimals)
                        continue
                    if name in cols:
                        cols[name] = [min(cols[name][0], mn),
                                      max(cols[name][1], mx)]
                    else:
                        cols[name] = [mn, mx]
            for name in poisoned:
                cols.pop(name, None)
            manifest[os.path.relpath(path, version_dir)] = {
                "rows": md.num_rows,
                "columns": cols,
            }
    # temp + atomic replace: a concurrent reader of the manifest can
    # never observe a partial write (review finding — prune_* catch
    # only FileNotFoundError, so a torn JSON would crash them)
    path = os.path.join(version_dir, "_zone_manifest.json")
    tmp = path + "." + uuid.uuid4().hex[:8] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, path)
    return manifest


def prune_files_by_zone(
    version_dir: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """Files of a committed version whose [min, max] zone for ``col``
    intersects [lo, hi] — plus the NON-EMPTY file count for skip-rate
    assertions (zero-row files are always safely prunable and count
    toward neither side). Files with no zone for the column are kept
    (pruning must never be lossy). Reads only the sidecar manifest
    (written lazily if absent)."""
    mpath = os.path.join(version_dir, "_zone_manifest.json")
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = write_zone_manifest(version_dir)
    keep = []
    n_nonempty = 0
    for rel, meta in manifest.items():
        if meta["rows"] == 0:
            continue  # an empty file is always safely prunable
        n_nonempty += 1
        zone = meta["columns"].get(col)
        try:
            hit = zone is None or (zone[0] <= hi and zone[1] >= lo)
        except TypeError:  # a probe the zone's type cannot order
            hit = True
        if hit:
            keep.append(os.path.join(version_dir, rel))
    # total counts NON-empty files only: otherwise a skip-rate
    # assertion (len(keep) < total) could be satisfied purely by empty
    # part files without the zones pruning anything (review finding)
    return keep, n_nonempty


def _bloom_hashes(value: str, n_bits: int, k: int) -> list[int]:
    """Deterministic double-hashing (Kirsch-Mitzenmacher): two 64-bit
    halves of blake2b seed ``h1 + i*h2`` — stable across runs, hosts
    and Python processes (no PYTHONHASHSEED dependence)."""
    import hashlib

    d = hashlib.blake2b(value.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd: full-period stride
    return [(h1 + i * h2) % n_bits for i in range(k)]


#: bloom sizing: bits per distinct key (~10 => ~1.2% fp at k=4)
_BLOOM_BITS_PER_KEY = 10
_BLOOM_K = 4


def write_bloom_manifest(version_dir: str, col: str) -> dict:
    """Per-file Bloom filters over ``col`` for a committed version —
    the parquet-footer bloom-filter / Delta-Iceberg point-lookup
    skipping shape, as a ``_bloom_<col>.json`` sidecar. Zone maps
    (``write_zone_manifest``) skip on RANGES; for a high-cardinality
    key whose values hash-scatter across files, every file's [min,max]
    covers every probe and zones skip nothing — the bloom answers
    "can this file contain THIS key?" instead.

    Filter size adapts to the file's row count (~10 bits/key, k=4:
    ~1.2% false-positive rate), so the skip rate survives scale-factor
    changes. Building reads ONE column per file (columnar projection,
    not a full scan); at 100 TB this single-column pass would be the
    same distributed job that computes footer stats — per-file
    independent, no shuffle — with the manifest footprint ~10 bits
    per key, still O(keys/800) bytes.

    Reference analog: Firestore serves point reads from its own key
    index (lib/FirestoreWrapper.py get_document); a parquet store has
    no server, so the index rides with the version as a sidecar."""
    import base64

    import pyarrow.parquet as pq

    manifest: dict = {}
    for root, dirs, files in os.walk(version_dir):
        # sidecar dirs (_deletion_vectors, ...) are not data files
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            pf = pq.ParquetFile(path)
            if col not in pf.schema_arrow.names:
                # hive-partition columns live in the directory names,
                # not the file — no bloom possible; record the file
                # with NO bitmap so pruning always keeps it (lossless)
                manifest[os.path.relpath(path, version_dir)] = {
                    "rows": pf.metadata.num_rows,
                    "n_bits": 0,
                    "bitmap": "",
                }
                continue
            tbl = pq.read_table(path, columns=[col])
            vals = [v for v in tbl.column(col).to_pylist() if v is not None]
            n_bits = 64
            while n_bits < _BLOOM_BITS_PER_KEY * max(1, len(vals)):
                n_bits *= 2
            bits = bytearray(n_bits // 8)
            for v in vals:
                for h in _bloom_hashes(str(v), n_bits, _BLOOM_K):
                    bits[h >> 3] |= 1 << (h & 7)
            manifest[os.path.relpath(path, version_dir)] = {
                "rows": tbl.num_rows,
                "n_bits": n_bits,
                "bitmap": base64.b64encode(bytes(bits)).decode("ascii"),
            }
    # temp + atomic replace (same torn-JSON guard as the zone writer)
    path = os.path.join(version_dir, f"_bloom_{col}.json")
    tmp = path + "." + uuid.uuid4().hex[:8] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, path)
    return manifest


def prune_files_by_bloom(
    version_dir: str, col: str, values: list
) -> tuple[list[str], int]:
    """Files of a committed version that MAY contain at least one of
    ``values`` in ``col`` per the bloom sidecar (written lazily if
    absent), plus the non-empty file count for skip-rate assertions.
    Bloom filters have no false negatives, so the prune is loss-free
    by construction; callers re-apply the predicate after the scan
    exactly like the zone-map path."""
    import base64

    mpath = os.path.join(version_dir, f"_bloom_{col}.json")
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = write_bloom_manifest(version_dir, col)
    keep = []
    n_nonempty = 0
    for rel, meta in manifest.items():
        if meta["rows"] == 0:
            continue
        n_nonempty += 1
        n_bits = meta["n_bits"]
        if n_bits == 0:  # column absent from the file (partition col):
            keep.append(os.path.join(version_dir, rel))  # never prune
            continue
        bits = base64.b64decode(meta["bitmap"])

        def _maybe(v) -> bool:
            return all(
                bits[h >> 3] & (1 << (h & 7))
                for h in _bloom_hashes(str(v), n_bits, _BLOOM_K)
            )

        if any(_maybe(v) for v in values):
            keep.append(os.path.join(version_dir, rel))
    return keep, n_nonempty


_DV_DIR = "_deletion_vectors"


def _dv_rel_expr(version_dir: str, path_col: str) -> F.Column:
    """Normalize a file path to be RELATIVE to ``version_dir`` — THE
    definition shared by the DV writer and every DV-masked reader.
    Positions are stored version-relative (r8 ADVICE, medium): an
    absolute-URI ``file_path`` breaks the moment the version moves —
    a shallow clone's sidecar would be matched against the clone's own
    paths, match nothing, and silently resurrect every deleted row.
    Relative paths are layout-stable across clone/move because
    ``_link_tree`` preserves file names.

    The strip keys on ``'/<version-dir-basename>/'`` — version names
    embed a uuid hex (``v-<ms>-<hex8>``), so a second occurrence in
    the path is implausible. Applied to an ALREADY-relative path the
    marker is absent and ``substring_index(..., -1)`` returns the
    string unchanged, so readers can normalize unconditionally (and a
    legacy absolute-URI sidecar of the SAME directory still
    resolves)."""
    base = os.path.basename(os.path.normpath(version_dir))
    return F.expr(f"substring_index({path_col}, '/{base}/', -1)")


def _hive_partition_cols(version_dir: str) -> list[str]:
    """Recover a version's hive-partition column chain from its
    directory names (``col=value`` at each level) — what a
    partition-aware append needs to keep the tree discoverable.
    Shared by the DML builders' appends and bin-packing."""
    pcols: list[str] = []
    probe = version_dir
    while True:
        subs = [
            d
            for d in os.listdir(probe)
            if "=" in d and os.path.isdir(os.path.join(probe, d))
        ]
        if not subs:
            return pcols
        pcols.append(subs[0].split("=", 1)[0])
        probe = os.path.join(probe, subs[0])


def _dv_position_count(version_dir: str) -> int:
    """Number of masked positions recorded in ``version_dir``'s DV
    sidecar, from the parquet FOOTERS (positions are distinct by
    construction — the writer deduplicates the scan forms and the
    one-pass positions form is provably duplicate-free, see
    :func:`write_deletion_vectors`). 0 when the version carries no
    mask."""
    dv_dir = os.path.join(version_dir, _DV_DIR)
    return _parquet_footer_rows(dv_dir) if os.path.isdir(dv_dir) else 0


def _parquet_footer_rows(path: str) -> int:
    """Row count of a flat parquet directory from the FOOTERS alone —
    no Spark job, no data scan. Used where the writer itself needs
    the row count of what it just wrote (the DV sidecar swap): the
    directory is local and file-count-small by construction."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


#: per-version cached live-row count (see :func:`_version_live_rows`)
_LIVE_ROWS_CACHE = "_live_rows.json"


def _dv_identity(version_dir: str) -> Optional[list[int]]:
    """Identity of ``version_dir``'s live deletion-vector sidecar:
    ``[st_ino, st_mtime_ns]`` of the directory (every swap renames a
    freshly written directory into place; the mtime guards against
    inode reuse), None when the version carries no mask."""
    try:
        st = os.stat(os.path.join(version_dir, _DV_DIR))
    except FileNotFoundError:
        return None
    return [st.st_ino, st.st_mtime_ns]


def _version_live_rows(version_dir: str) -> int:
    """LIVE row count of a committed version from metadata only:
    parquet footer ``num_rows`` summed over the data files minus the
    DV sidecar's masked-position count — O(filecount) stats, no data
    scan. Underscore/dot directories are pruned exactly like Spark's
    reader (and the manifest writers), so sidecars and crash residue
    (``_deletion_vectors.old-*``) never inflate the count. Shared by
    :meth:`DocumentStore.describe_history` and the compaction sizing
    paths (r9 VERDICT #6: sizing must not pay a data pass).

    Round 12 (r11 VERDICT #8): the walk is O(filecount) on the
    DRIVER — at 100 TB (10⁵-10⁶ files per version) a
    ``describe_history`` over N versions would stall the driver
    re-walking every file of every version on every call. The count
    is therefore CACHED per version dir (``_live_rows.json``,
    written atomically) after the first walk: versions are immutable
    once published, so the cache can never go stale on a published
    version, and :func:`_link_tree` drops an inherited cache from
    the successor directory (whose DML is about to change the
    count). First read per version still walks once — amortized
    O(1) per version thereafter, no behavior change.

    The one mutation of a published version is its deletion-vector
    sidecar swap (:func:`write_deletion_vectors`), so the cache
    records the identity of the mask it counted (:func:`_dv_identity`,
    sampled BEFORE the walk) and a mismatch re-walks: a failed or
    crashed cache removal, or a walk that raced the swap and wrote
    after it, can never serve the pre-swap count."""
    import pyarrow.parquet as pq

    cache = os.path.join(version_dir, _LIVE_ROWS_CACHE)
    mask = _dv_identity(version_dir)
    try:
        with open(cache) as fh:
            got = json.load(fh)
        if got.get("mask") == mask:
            return int(got["live_rows"])
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        pass
    n = 0
    for root, dirs, names in os.walk(version_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in names:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, f)).num_rows
    n -= _dv_position_count(version_dir)
    tmp = cache + ".tmp-" + uuid.uuid4().hex[:8]
    try:
        with open(tmp, "w") as fh:
            json.dump({"live_rows": n, "mask": mask}, fh)
        os.replace(tmp, cache)
    except OSError:
        pass  # cache is best-effort; the walked count is authoritative
    return n


def _dv_recover_interrupted_swap(version_dir: str) -> None:
    """Self-heal a crash between the sidecar swap's two renames
    (review finding): the swap is write-tmp → rename(live→old) →
    rename(tmp→live), so a kill in the middle leaves ``.old-*`` (the
    complete previous mask) and possibly ``.tmp-*`` (the complete
    next mask) but no live dir — and every read would silently
    resurrect the deleted rows. Recovery prefers the NEWEST complete
    candidate: a ``.tmp-*`` (already fully written + counted before
    any rename) else the ``.old-*``; leftovers are removed."""
    live = os.path.join(version_dir, _DV_DIR)
    residue = sorted(
        d
        for d in os.listdir(version_dir)
        if d.startswith(_DV_DIR + ".")
        and os.path.isdir(os.path.join(version_dir, d))
    )
    if not residue:
        return
    if not os.path.isdir(live):
        tmps = [d for d in residue if d.startswith(_DV_DIR + ".tmp-")]
        pick = tmps[-1] if tmps else residue[-1]
        os.rename(os.path.join(version_dir, pick), live)
        residue.remove(pick)
    for d in residue:
        shutil.rmtree(os.path.join(version_dir, d), ignore_errors=True)


def write_deletion_vectors(
    spark: SparkSession,
    version_dir: str,
    predicate: Optional[str] = None,
    legacy_dir: Optional[str] = None,
    positions: Optional[DataFrame] = None,
) -> int:
    """Row-level DELETE without rewriting data files — the Delta
    deletion-vector shape: rows of the committed version matching
    ``predicate`` are recorded POSITIONALLY as (file_path, row_index)
    in a ``_deletion_vectors/`` parquet sidecar; the data files stay
    byte-identical (a 100 TB version deletes 0.1% of its rows by
    writing megabytes, not rewriting terabytes). Positions come from
    Spark's parquet ``_metadata.row_index`` virtual column, which is
    the file's physical row order — stable for an immutable file;
    ``file_path`` is stored RELATIVE to the version directory so the
    mask survives clone/move (r8 ADVICE).

    Deletes ACCUMULATE (r8 ADVICE): a second delete on the same
    version unions its positions with the existing mask (Delta DV
    semantics) — the sidecar is rewritten via a temp dir + rename,
    never read-and-overwritten in place. A predicate matching zero
    NEW rows leaves the sidecar untouched (and creates none when
    there wasn't one — no empty directory for readers to trip on).

    Returns the TOTAL number of distinct masked positions after this
    call. The mask is computed once by a distributed scan of only the
    matching rows; readers (:func:`_masked_scan`, under every
    ``DocumentStore`` read path and :func:`read_with_deletion_vectors`)
    never re-evaluate the predicate — masking is purely positional, so
    it also covers deletes whose predicate columns were later dropped
    or renamed.

    ``legacy_dir`` names the directory an INHERITED sidecar came from
    (``delete_where``/``update_where`` pass the predecessor version):
    a retired absolute-URI-format mask names THAT directory, so its
    entries are additionally re-rooted against it — without this, a
    legacy mask inherited across a link-tree commit would match no
    relative path and silently resurrect every deleted row (review
    finding).

    Crash consistency: the sidecar swap is write-tmp →
    rename(live→old) → rename(tmp→live); a kill between the renames
    is detected and self-healed on the next write or masked read
    (:func:`_dv_recover_interrupted_swap`) — never silently served
    unmasked.

    Exactly one of ``predicate`` / ``positions`` selects the rows to
    mask. ``positions`` (round 11) is the ONE-PASS form used by the
    fused DML paths: a frame of already-version-relative
    ``(_ffs_pos_fp, _ffs_pos_ri)`` positions taken from
    :func:`_masked_scan` ``positions=True`` — no scan of the version
    happens here at all; the caller's single matched-sliver pass
    decided the mask."""
    if (predicate is None) == (positions is None):
        raise ValueError(
            "write_deletion_vectors: pass exactly one of "
            "predicate / positions"
        )
    _dv_recover_interrupted_swap(version_dir)
    if positions is not None:
        new_dv = positions.select(
            F.col(_POS_FP).alias("file_path"),
            F.col(_POS_RI).alias("row_index"),
        )
        # One-pass positions are distinct BY CONSTRUCTION: they come
        # from :func:`_masked_scan`, which emits each live physical
        # row exactly once AND drops the existing mask — so they are
        # also disjoint from any inherited sidecar.
        # The dedup shuffle the predicate form needs (a raw scan
        # can re-match already-masked rows) is a provable no-op here;
        # skipping it removes one exchange from EVERY one-pass DML and
        # merge commit (round 12, guide §2.4).
    else:
        new_dv = (
            _version_reader(spark, version_dir).parquet(version_dir)
            .filter(predicate)
            .select(
                _dv_rel_expr(version_dir, "_metadata.file_path").alias(
                    "file_path"
                ),
                F.col("_metadata.row_index").alias("row_index"),
            )
        )
    out = os.path.join(version_dir, _DV_DIR)
    has_existing = os.path.isdir(out)
    if has_existing:
        # normalize inherited positions too: first against this
        # directory (covers a legacy sidecar written in place), then
        # against the predecessor it may have been linked from
        fp = _dv_rel_expr(version_dir, "file_path")
        existing = _version_reader(spark, out).parquet(out).select(
            fp.alias("file_path"), "row_index"
        )
        if legacy_dir is not None:
            existing = existing.select(
                _dv_rel_expr(legacy_dir, "file_path").alias("file_path"),
                "row_index",
            )
        new_dv = existing.unionByName(new_dv)
    if predicate is not None:
        new_dv = new_dv.distinct()
    tmp = out + ".tmp-" + uuid.uuid4().hex[:8]
    # rows reach the write in shuffle-fetch order, so the same mask
    # wrote files a few bytes apart run to run; a local sort (no
    # exchange, no job) makes the sidecar's bytes repeat
    new_dv.sortWithinPartitions("file_path", "row_index").write.mode(
        "errorifexists"
    ).parquet(tmp)
    return _publish_dv(version_dir, tmp, has_existing)


def _publish_dv(version_dir: str, tmp: str, has_existing: bool) -> int:
    """Swap the complete sidecar ``tmp`` in as ``version_dir``'s mask
    (write-tmp → rename(live→old) → rename(tmp→live); see
    :func:`_dv_recover_interrupted_swap`) and return its row count —
    the TOTAL masked positions. An empty ``tmp`` where no mask existed
    is removed instead: no empty sidecar for readers to trip on."""
    # total = rows of the sidecar just written: sum the parquet
    # FOOTERS driver-side instead of paying a whole Spark count job —
    # the sidecar is local, just-written, and O(masked positions)
    # small in file count (round 11; guide §1.2: this count ran as
    # its own job after EVERY DML/merge commit)
    total = _parquet_footer_rows(tmp)
    out = os.path.join(version_dir, _DV_DIR)
    if total == 0 and not has_existing:
        shutil.rmtree(tmp)
        return 0
    if has_existing:
        old = out + ".old-" + uuid.uuid4().hex[:8]
        os.rename(out, old)
        os.rename(tmp, out)
        shutil.rmtree(old)
    else:
        os.rename(tmp, out)
    # the swap changed this version's LIVE row count; a cached count
    # names the mask it counted, so _version_live_rows re-walks
    return total


def _binpack_classify(
    version_dir: str,
    min_rows_per_file: int,
    partition_values: Optional[dict[str, Any]] = None,
) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
    """Select a committed version's bin-pack candidates by FOOTER row
    count — O(filecount) metadata, the same listing the commit itself
    performs; no data scan (plus one sidecar-column read when a DV
    mask exists, see :func:`_dv_positions`). ``partition_values``
    restricts candidacy to files under the named hive partitions
    (``col=value`` path components) — files outside the scope always
    link, the Delta ``OPTIMIZE ... WHERE`` shape.

    Bin rule (the fixed-point guarantee — repeated maintenance must
    converge, not churn): within each parent directory (= hive
    partition), under-sized files are selected only when the
    directory has AT LEAST TWO of them (there is something to merge)
    or when a lone under-sized file carries deletion-vector positions
    (the rewrite pays by materializing them). A packed version whose
    only small file is the pack's own unmasked output therefore
    classifies as a no-op. Returns ``(selected, linked)`` lists of
    (relative_path, footer_rows)."""
    import pyarrow.parquet as pq

    want = (
        {f"{c}={v}" for c, v in partition_values.items()}
        if partition_values
        else set()
    )
    by_parent: dict[str, list[tuple[str, int]]] = {}
    linked: list[tuple[str, int]] = []
    for root, dirs, files in os.walk(version_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, version_dir)
            n = pq.read_metadata(p).num_rows
            in_scope = want <= set(rel.split(os.sep)[:-1])
            if in_scope and n < min_rows_per_file:
                by_parent.setdefault(os.path.dirname(rel), []).append(
                    (rel, n)
                )
            else:
                linked.append((rel, n))
    dv = _dv_positions(version_dir) if by_parent else None
    masked = set() if dv is None else set(dv["file_path"].unique().to_pylist())
    selected: list[tuple[str, int]] = []
    for _parent, group in by_parent.items():
        if len(group) >= 2 or any(rel in masked for rel, _n in group):
            selected.extend(group)
        else:
            linked.extend(group)
    return selected, linked


def binpack_build(
    spark: SparkSession,
    src: str,
    out: str,
    min_rows_per_file: int,
    target_rows_per_file: int,
    partition_values: Optional[dict[str, Any]] = None,
) -> dict:
    """Build a BIN-PACKED rewrite of version ``src`` into the private
    directory ``out`` — the Delta-OPTIMIZE core shared by
    :meth:`DocumentStore.optimize_binpack` (pointer flip) and
    ``TransactionalParquetBackend.optimize_binpack`` (reconciling CAS)
    so the two protocols can never pack differently (r10 VERDICT #1:
    routine small-file maintenance must cost O(small files), never a
    full-table rewrite — the previous ``compact`` rewrote the entire
    snapshot).

    Mechanics: every RIGHT-SIZED data file (footer rows >=
    ``min_rows_per_file``, or outside the ``partition_values`` scope)
    HARD-LINKS into ``out`` unchanged — zero data movement, inode
    identity provable by the caller; only the under-sized files are
    read (basePath-pinned partial scan through the DV mask restricted
    to them) and rewritten as ceil(rows/target) right-sized files,
    partition-aware. Deletion vectors split along the same line:
    positions referencing a REWRITTEN file materialize (the masked
    rows simply aren't in the new files — that file's DV debt is
    paid), positions referencing a LINKED file carry over into
    ``out``'s sidecar verbatim (version-relative paths + preserved
    file names make them valid as-is, the shallow-clone argument).
    The mixed-schema marker travels when present (linked narrow files
    stay narrow); zone/Bloom manifests do NOT (the rewrite invalidates
    them — lossy if copied; they rebuild lazily).

    At 100 TB: a version with 10k right-sized files and 200 commit
    slivers links 10k inodes, scans only the slivers, and writes one
    right-sized file — O(small) data cost, O(filecount) metadata.
    (Reference analog: Firestore compacts invisibly underneath
    writers, /root/reference/lib/FirestoreWrapper.py:102-123; on
    parquet the job is explicit but must stay proportional to the
    debt, not the table.)

    Returns ``{"n_linked", "n_rewritten", "rows_rewritten",
    "n_files_written"}``. Caller contract: ``small`` must be
    non-empty (callers no-op first via :func:`_binpack_classify`) and
    ``out`` must not exist; on error the caller removes ``out``."""
    small, big = _binpack_classify(
        src, min_rows_per_file, partition_values
    )
    if not small:
        raise ValueError(
            "binpack_build: no under-sized files — callers must "
            "no-op via _binpack_classify first"
        )
    os.makedirs(out)
    for rel, _n in big:
        t = os.path.join(out, rel)
        os.makedirs(os.path.dirname(t), exist_ok=True)
        try:
            os.link(os.path.join(src, rel), t)
        except OSError:  # cross-device: degrade to copy
            shutil.copy2(os.path.join(src, rel), t)
    marker = os.path.join(src, _MIXED_SCHEMA_MARKER)
    if os.path.exists(marker):
        shutil.copy2(marker, os.path.join(out, _MIXED_SCHEMA_MARKER))
    # Rewrite the small files through their DV positions. Sizing is
    # footer-only: the mask can only shrink the slice, so
    # ceil(footer_rows/target) never under-sizes.
    small_rels = [rel for rel, _n in small]
    rows_small = sum(n for _rel, n in small)
    n_files = max(1, -(-rows_small // target_rows_per_file))
    scan = _masked_scan(
        spark, src, [os.path.join(src, rel) for rel in small_rels]
    )
    pcols = _hive_partition_cols(src)
    writer = scan.coalesce(n_files).write.mode("append")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(out)
    # DV sidecar: keep ONLY the linked files' positions. The rewrite
    # set is bounded by the small-file count, so it filters as a
    # literal IN list inside the sidecar's write job.
    dv_src = os.path.join(src, _DV_DIR)
    if os.path.isdir(dv_src) and big:
        kept = _version_reader(spark, dv_src).parquet(dv_src).select(
            _dv_rel_expr(src, "file_path").alias("file_path"),
            "row_index",
        ).filter(~F.col("file_path").isin(small_rels))
        tmp = os.path.join(out, _DV_DIR + ".tmp-" + uuid.uuid4().hex[:8])
        kept.write.mode("errorifexists").parquet(tmp)
        if _parquet_footer_rows(tmp):
            os.rename(tmp, os.path.join(out, _DV_DIR))
        else:
            shutil.rmtree(tmp)
    linked = {r for r, _n in big}
    n_written = 0
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), out)
            if f.endswith(".parquet") and rel not in linked:
                n_written += 1
    return {
        "n_linked": len(big),
        "n_rewritten": len(small),
        "rows_rewritten": rows_small,
        "n_files_written": n_written,
    }


#: Position columns the one-pass DML scan carries: version-relative
#: file path, row index and the name of the version they were read
#: from (a mask built from them is valid for that version only).
#: Reserved in DML-visible snapshots.
_POS_FP = "_ffs_pos_fp"
_POS_RI = "_ffs_pos_ri"
_POS_V = "_ffs_pos_v"
_POS_COLS = (_POS_FP, _POS_RI, _POS_V)


#: Most deletion-vector positions (of the files a scan reads) that
#: :func:`_masked_scan` drops with an in-plan filter; a larger mask is
#: anti-joined. Building and analysing the filter costs time per
#: position on the driver, the anti-join one Spark job (AQE broadcasts
#: the mask) per action; the bound sits where the two costs meet on a
#: 4-core host (measured curve in CHANGES.md).
_DV_FILTER_MAX_POSITIONS = 2000


def _dv_positions(
    version_dir: str, files: Optional[list[str]] = None,
    legacy_dir: Optional[str] = None,
) -> Optional["pa.Table"]:
    """``version_dir``'s deletion-vector positions read on the driver
    with pyarrow — no Spark job — as a (``file_path``, ``row_index``)
    table whose paths are normalized exactly as :func:`_dv_rel_expr`
    normalizes them (a legacy absolute-URI sidecar of this directory
    resolves too; one inherited from ``legacy_dir`` is re-rooted against
    it, as :func:`write_deletion_vectors` does). ``files``, the data
    files of a pruned scan, keeps
    only the positions of those files (a path matches raw or
    URL-decoded, as Spark's ``_metadata.file_path`` encodes it). None
    when the version carries no mask — after first self-healing an
    interrupted sidecar swap, so a crash mid-swap is never served as
    "no mask" (:func:`_dv_recover_interrupted_swap`)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dv_dir = os.path.join(version_dir, _DV_DIR)
    if not os.path.isdir(dv_dir):
        try:
            _dv_recover_interrupted_swap(version_dir)
        except OSError:
            pass  # a concurrent reader won the recovery rename
        if not os.path.isdir(dv_dir):
            return None
    dv = pq.read_table(dv_dir, columns=["file_path", "row_index"])
    markers = [
        f"/{os.path.basename(os.path.normpath(d))}/"
        for d in (version_dir, legacy_dir) if d is not None
    ]
    raw = pc.unique(dv["file_path"])
    rel = [
        functools.reduce(lambda p, m: p.rsplit(m, 1)[-1], markers, p)
        for p in raw.to_pylist()
    ]
    dv = pa.table({
        "file_path": pc.take(pa.array(rel, pa.string()),
                             pc.index_in(dv["file_path"], value_set=raw)),
        "row_index": dv["row_index"],
    })
    if files is not None:
        scanned = {os.path.relpath(f, version_dir) for f in files}
        kept = [r for r in set(rel) if r in scanned or unquote(r) in scanned]
        dv = dv.filter(pc.is_in(dv["file_path"], pa.array(kept, pa.string())))
    return dv


def _dv_filter(dv: "pa.Table") -> F.Column:
    """A mask as an in-plan filter over the :data:`_POS_FP`/
    :data:`_POS_RI` columns: one SQL ``IN`` list of row indices per
    file, parsed through ONE ``F.expr`` call (no Py4J call per
    position). The indices are BIGINT literals (``7L``), the type of
    ``row_index``: an INT literal would make the analyzer wrap each one
    in a cast, which measured about three times the analysis time."""
    def quote(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    groups = dv.group_by("file_path").aggregate([("row_index", "list")])
    whens = " ".join(
        f"WHEN {quote(fp)} THEN {_POS_RI} IN ({','.join(f'{r}L' for r in ris)})"
        for fp, ris in zip(
            groups["file_path"].to_pylist(),
            groups["row_index_list"].to_pylist(),
        )
    )
    return F.expr(f"NOT (CASE {_POS_FP} {whens} ELSE false END)")


def _with_positions(data: DataFrame, version_dir: str) -> DataFrame:
    """``data``, a scan of ``version_dir``'s files, with each row's
    physical position: the :data:`_POS_COLS` columns."""
    for reserved in (*_POS_COLS, "_ffs_dv_fp", "_ffs_dv_ri"):
        if reserved in data.columns:
            raise ValueError(
                f"column {reserved!r} is reserved by the masked read "
                "path; rename it in the snapshot"
            )
    return data.select(
        "*",
        _dv_rel_expr(version_dir, "_metadata.file_path").alias(_POS_FP),
        F.col("_metadata.row_index").alias(_POS_RI),
        F.lit(os.path.basename(os.path.normpath(version_dir))).alias(_POS_V),
    )


def _masked_scan(
    spark: SparkSession,
    version_dir: str,
    files: Optional[list[str]] = None,
    positions: bool = False,
) -> DataFrame:
    """THE deletion-vector-masked scan of a version — every masked read
    (``read_version``, ``read_where``, ``read_where_eq``, binpack, the
    DML/merge builders, the IVM old side, the CAS log's reads) comes
    through here. ``files`` narrows the scan to a pruned file list
    (``basePath``-pinned, so hive partition columns survive).

    The mask is read on the driver (:func:`_dv_positions`) and only
    the positions of the scanned files are kept. Up to
    :data:`_DV_FILTER_MAX_POSITIONS` of them drop rows through an
    in-plan filter on ``_metadata.file_path``/``_metadata.row_index``
    (:func:`_dv_filter`): no Spark job beyond the read's own. A larger
    mask is a positional LEFT ANTI join against the sidecar, left to
    AQE to size. Scanned files with no position add nothing to the
    plan. No data column takes part in masking.

    ``positions=True`` keeps the physical position of every row as
    ordinary columns — ``_ffs_pos_fp``/``_ffs_pos_ri`` (version-relative
    file path, row index) and ``_ffs_pos_v`` (the version scanned) —
    the one-pass DML scan: the matched sliver is computed once and the
    DV mask, images, change rows and clause tags all project from it.
    Positions from the predecessor directory stay valid in a
    hard-linked successor (``_link_tree`` keeps relative layout and the
    inodes), and a change set built over this scan names the version
    its mask belongs to (:func:`apply_changes_build`)."""
    reader = _version_reader(spark, version_dir)
    data = (
        reader.parquet(version_dir)
        if files is None
        else reader.option("basePath", version_dir).parquet(*files)
    )
    dv = _dv_positions(version_dir, files)
    n = 0 if dv is None else dv.num_rows
    if not (positions or n):
        return data
    cols = data.columns
    data = _with_positions(data, version_dir)
    if n > _DV_FILTER_MAX_POSITIONS:
        dv_dir = os.path.join(version_dir, _DV_DIR)
        side = _version_reader(spark, dv_dir).parquet(dv_dir).select(
            _dv_rel_expr(version_dir, "file_path").alias("_ffs_dv_fp"),
            F.col("row_index").alias("_ffs_dv_ri"),
        )
        data = data.join(
            side,
            (F.col(_POS_FP) == F.col("_ffs_dv_fp"))
            & (F.col(_POS_RI) == F.col("_ffs_dv_ri")),
            "left_anti",
        )
    elif n:
        data = data.filter(_dv_filter(dv))
    return data if positions else data.select(*cols)


def read_with_deletion_vectors(
    spark: SparkSession, version_dir: str
) -> DataFrame:
    """Snapshot of a version with its deletion vectors applied — the
    free-function form of :func:`_masked_scan` for callers working with
    bare version directories."""
    return _masked_scan(spark, version_dir)


def _link_tree(src_dir: str, dest_dir: str) -> None:
    """Publish an immutable version directory elsewhere in
    O(filecount) metadata ops: parquet data files HARD-LINK (os.link
    shares the inode; cross-device fallback copies), sidecar files
    copy (small; keeps each version's manifests private so a lazy
    rebuild on one side never mutates the other). Shared by
    :func:`shallow_clone` and the DML candidates
    (:func:`_link_candidate`).
    Because version dirs are immutable, the link share is safe — a
    later commit on either side writes NEW directories, never
    mutating linked bytes."""
    for root, dirs, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        troot = dest_dir if rel == "." else os.path.join(dest_dir, rel)
        os.makedirs(troot, exist_ok=True)
        for f in files:
            s = os.path.join(root, f)
            t = os.path.join(troot, f)
            if f == _LIVE_ROWS_CACHE:
                # the successor's DML is about to change the live
                # count — an inherited cache would silently serve the
                # predecessor's number (round 12; recomputed lazily)
                continue
            if f.endswith(".parquet"):
                try:
                    os.link(s, t)  # zero-copy: shares the inode
                except OSError:  # cross-device: degrade to copy
                    shutil.copy2(s, t)
            else:
                shutil.copy2(s, t)


def shallow_clone(
    spark: SparkSession, src_store: "DocumentStore", dest_root: str
) -> "DocumentStore":
    """Zero-copy snapshot export — the Delta SHALLOW CLONE shape: the
    source's CURRENT version is published into a new store root by
    HARD-LINKING its immutable data files (:func:`_link_tree`),
    sidecar manifests copied, pointer flipped. A 100 TB table clones
    in O(filecount) metadata operations with zero data movement; the
    clone is immediately a first-class store (reads, commits, time
    travel of its own). Vacuuming the source keeps the clone alive:
    hard links hold the inode until every referent is gone.

    DELETES SURVIVE the clone (r8 ADVICE, medium): deletion-vector
    positions are stored version-RELATIVE (:func:`_dv_rel_expr`), and
    ``_link_tree`` preserves file names, so the copied sidecar masks
    the clone's rows exactly as it masked the source's — a clone of a
    deleted-from version serves the post-delete state. (A sidecar in
    the retired absolute-URI format cannot be re-rooted — its paths
    name the source — and reads as no-mask on the clone; rewrite via
    ``write_deletion_vectors`` on the source first.)

    The clone's pointer is published like a commit's
    (:meth:`DocumentStore._flip_pointer`): written durably, renamed
    into place, then the clone directory is fsync'd.

    Reference analog: Firestore export/import
    (the reference has no cheap snapshot path at all — it re-syncs)."""
    src_dir = src_store.current_version_dir()
    if src_dir is None:
        raise ValueError("source store has no committed version")
    os.makedirs(dest_root, exist_ok=True)
    dest_store = DocumentStore(spark, dest_root, src_store.key_col)
    dname = _new_version_dir_name(int(time.time() * 1000))
    dest_dir = os.path.join(dest_root, dname)
    _link_tree(src_dir, dest_dir)
    tmp = os.path.join(dest_root, _POINTER + ".tmp")
    _write_json_durable(tmp, {"version_dir": dname, "txns": {}})
    os.replace(tmp, os.path.join(dest_root, _POINTER))
    _fsync_dir(dest_root)
    return dest_store
