"""The store change feed (CDF) as Spark 4 Python DataSources: tail a
store's own row-level changes with exactly-once offsets, the way a
downstream pipeline tails a synced table (Delta's ``readChangeFeed``
shape; the reference has no incremental consumer at all — every sync
re-reads the world, lib/AirtableDataFetcher.py:14-37).

Commits made with ``cdf=True`` write their OWN row-level changes as a
``_changes/`` parquet sidecar inside the version directory, in the
``diff_frames(include_old=True)`` schema (key, change_type, post-image
columns, ``old_<col>`` pre-images). The feed never diffs anything; it
only lists sidecar files. Both commit protocols publish them, so the
module is one reader over a small per-protocol LISTING object:

- :class:`_StoreListing` — a ``DocumentStore`` root (pointer
  protocol). Position = the newest consumed version directory NAME
  (name order == commit order: fixed-width epoch ms), bounded by the
  pointer so an in-flight version is never read. Constant column:
  ``commit_ms`` (parsed from the version name).
- :class:`_LogListing` — a ``TransactionalParquetBackend`` root (CAS
  log). Position = the newest consumed log VERSION (dense integers:
  exactly one writer owns N+1). Constant columns: ``commit_ms`` (the
  record's ``ts_ms``) and ``commit_version``. ``startingVersion``
  begins the feed past retention-vacuumed or pre-CDF history; the
  head position never reports less than ``startingVersion - 1``.

A listing answers three questions: its ``head()`` position, the change
files in ``(lo, hi]`` with their constant columns (``files``), and its
newest sidecar schema (``newest_fields``: the schema anchor — additive
schema evolution means later sidecars carry a superset of columns).

On top sit ONE partition class (:class:`ChangeFilePartition`, one per
change file: executors read their files in parallel with pyarrow,
nothing funnels through the driver), ONE stream reader and ONE batch
reader (the partitions between the stream's initial and latest
offset). Three formats use them:

- ``store_cdf`` with ``path``: offset ``{"last": name}``;
- ``store_cdf`` with ``paths``/``tags`` (multiplexed, streaming-only):
  several stores through one source, a ``_ffs_feed`` tag column, one
  offset per feed ``{"last": {tag: name}}``;
- ``store_cdf_txn`` with ``path`` (+ ``startingVersion``): offset
  ``{"v": N}``.

Hole rules stay per protocol (a feed with silent holes would
under-maintain every consumer):

- pointer store: any version in a consumed range without a sidecar
  raises — it was committed without ``cdf=True``, or vacuumed (Delta
  CDF fails the same way after VACUUM passes the retention window);
- CAS log: ``compact``/``optimize_*`` records are logical no-ops and
  are skipped (Delta CDF skips OPTIMIZE commits); any other record
  without a sidecar raises and names ``startingVersion``.

Scale shape: head positions cost one directory listing; a range parses
only its own log records; the schema walk stops at the newest
sidecar.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional

from pyspark.sql import types as T

from far_finer_airtable_firestore_sync_spark.sources.store import (
    _CHANGES_DIR,
    _POINTER,
    _footer_schema,
    version_commit_ms,
)

try:  # pyspark >= 4
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - older pyspark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    DataSourceStreamReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]
    _HAS_DATASOURCE_API = False


#: feed-tag column the MULTIPLEXED reader appends (same name the
#: consumers' hand-built tagged union used, so downstream code is
#: byte-identical either way)
_FEED_COL = "_ffs_feed"

#: CAS-log record kinds that change no rows (skipped, never a hole)
_TXN_MAINTENANCE_KINDS = {"compact", "optimize_zorder", "optimize_binpack"}


def _ddl_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _ddl_type(dt: T.DataType) -> str:
    """Spark DDL of a footer type (nested field names quoted; every
    leaf type spells itself)."""
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{_ddl_name(f.name)}: {_ddl_type(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_ddl_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_ddl_type(dt.keyType)}, {_ddl_type(dt.valueType)}>"
    return dt.simpleString()


def _sidecar_files(version_dir: str) -> Optional[list[str]]:
    """Sorted parquet files of a version's ``_changes/`` sidecar, or
    None when the version has no sidecar (the caller's hole rule
    decides what that means)."""
    ch = os.path.join(version_dir, _CHANGES_DIR)
    if not os.path.isdir(ch):
        return None
    return sorted(
        os.path.join(ch, f) for f in os.listdir(ch) if f.endswith(".parquet")
    )


class _Listing:
    """Per-protocol answer to "which change files does this root
    hold": subclasses define ``head()``, ``files(lo, hi)`` (every
    change file of the commits in ``(lo, hi]``, commit order, each
    with its ``[(column, value), ...]`` constants; holes raise) and
    ``_sidecar_dirs_newest_first``. Plain fields only — the readers
    holding it are pickled to the Python workers."""

    #: offset JSON key, position before any commit, constant-column DDL
    OFFSET_KEY: str
    GENESIS: object
    CONSTANTS_DDL: str
    KIND: str

    def __init__(self, root: str, start=None):
        self.root = root
        self.start = self.GENESIS if start is None else start

    def newest_fields(self) -> list[T.StructField]:
        """Spark fields of the NEWEST sidecar, from the Spark schema
        its writer stored in the footer (exactly the store's types) —
        the per-root schema anchor (anchoring on the first would
        silently hide every later-added column; the read path projects
        older files by name with typed NULLs)."""
        for vd in self._sidecar_dirs_newest_first():
            if not _sidecar_files(vd):
                continue
            schema = _footer_schema(os.path.join(vd, _CHANGES_DIR))
            if schema is None:
                raise ValueError(
                    f"{self.KIND} {self.root!r}: the change sidecar of "
                    f"{os.path.basename(vd)!r} carries no Spark schema "
                    "in its footer (sidecars are written by Spark)"
                )
            return list(schema.fields)
        raise ValueError(
            f"{self.KIND} {self.root!r} has no cdf-enabled commits: "
            "commit with cdf=True before reading the change feed"
        )


class _StoreListing(_Listing):
    """A ``DocumentStore`` root: positions are version NAMES."""

    OFFSET_KEY, GENESIS, KIND = "last", "", "store"
    CONSTANTS_DDL = "commit_ms bigint"

    def _versions(self) -> list[str]:
        """Version basenames committed AT OR BEFORE the current
        pointer, oldest first. Bounding by the pointer matters: a
        version directory exists on disk BEFORE its pointer flip
        (data, then sidecars, then flip), so an unbounded listing
        could read a commit that is still in flight — the flip is the
        commit point, exactly like the store's own readers."""
        try:
            with open(os.path.join(self.root, _POINTER)) as fh:
                cur = json.load(fh)["version_dir"]
        except FileNotFoundError:
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if d.startswith("v-")
            and os.path.isdir(os.path.join(self.root, d))
            and d <= cur
        )

    def head(self) -> str:
        versions = self._versions()
        return versions[-1] if versions else self.GENESIS

    def files(self, lo: str, hi: str) -> Iterator[tuple[str, list]]:
        for v in self._versions():
            if not lo < v <= hi:
                continue
            paths = _sidecar_files(os.path.join(self.root, v))
            if paths is None:
                raise ValueError(
                    f"store version {v!r} has no {_CHANGES_DIR}/ "
                    "sidecar: it was committed without cdf=True (or "
                    "vacuumed); the change feed cannot serve a range "
                    "with holes"
                )
            for path in paths:
                yield path, [("commit_ms", version_commit_ms(v))]

    def _sidecar_dirs_newest_first(self):
        for v in reversed(self._versions()):
            yield os.path.join(self.root, v)


class _LogListing(_Listing):
    """A ``TransactionalParquetBackend`` root: positions are log
    VERSIONS; ``start`` is ``startingVersion - 1``."""

    OFFSET_KEY, GENESIS, KIND = "v", 0, "transactional store"
    CONSTANTS_DDL = "commit_ms bigint, commit_version bigint"

    def _index(self) -> dict[int, str]:
        """version -> record path: ONE directory listing, no JSON
        parsing — ``latestOffset`` fires every trigger and must not
        re-parse an O(total commits) record set to learn the head."""
        log = os.path.join(self.root, "_log")
        if not os.path.isdir(log):
            raise ValueError(
                f"{self.root!r} has no _log/: not a transactional store"
            )
        index = {}
        for f in os.listdir(log):
            if not f.endswith(".json") or f.startswith("_"):
                continue
            try:
                index[int(f[:-5])] = os.path.join(log, f)
            except ValueError:
                continue
        return index

    def _record(self, path: str) -> dict:
        with open(path) as fh:
            return json.load(fh)

    def head(self) -> int:
        # never below the start: a feed started past the head must not
        # report an offset that re-opens the versions it was told to skip
        return max(max(self._index(), default=0), self.start)

    def files(self, lo: int, hi: int) -> Iterator[tuple[str, list]]:
        lo, hi = int(lo), int(hi)
        index = self._index()
        for v in sorted(index):
            if not lo < v <= hi:
                continue
            rec = self._record(index[v])
            kind = (rec.get("op") or {}).get("kind", "snapshot")
            if kind in _TXN_MAINTENANCE_KINDS:
                continue  # logical no-op: nothing to feed, nothing to fail
            paths = _sidecar_files(os.path.join(self.root, rec["version_dir"]))
            if paths is None:
                raise ValueError(
                    f"log version {v} ({kind}) has no {_CHANGES_DIR}/ "
                    "sidecar (not committed with cdf=True, or its data "
                    "was retention-vacuumed): start the feed past it "
                    "with .option('startingVersion', N) — a feed with "
                    "silent holes would under-maintain every consumer"
                )
            for path in paths:
                yield path, [
                    ("commit_ms", int(rec["ts_ms"])), ("commit_version", v)
                ]

    def _sidecar_dirs_newest_first(self):
        # a generator: records are parsed newest first and the walk
        # stops at the first one with a sidecar, not after the whole log
        index = self._index()
        for v in sorted(index, reverse=True):
            rec = self._record(index[v])
            yield os.path.join(self.root, rec["version_dir"])


class ChangeFilePartition(InputPartition):
    """One change file plus its constant columns (picklable plain
    fields only — ships to executors)."""

    def __init__(self, path: str, constants: list):
        self.path = path
        self.constants = constants


def _sidecar_batches(path: str, schema: T.StructType, extra: list):
    """Executor-side read of one change file as ARROW RECORD BATCHES —
    the Python DataSource API's Arrow path: columns are projected BY
    NAME onto the query schema (an older sidecar missing a
    later-added column yields typed NULLs — additive schema evolution
    tolerated, and the MULTIPLEXED reader projects each feed's
    narrower sidecar onto the union schema the same way) and the
    partition constants in ``extra`` (commit_ms, commit_version,
    feed tag) are appended as constant columns (int64 or string by
    value type). Yielding ``pyarrow.RecordBatch`` instead of row
    tuples keeps the feed columnar end to end — no ``to_pylist``
    materialization and no per-row pickling across the Python/JVM
    boundary (optimization guide §4: batches, not rows, cross the
    boundary)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    tbl = pq.read_table(path)
    n = tbl.num_rows
    arrays, fields = [], []
    payload = schema.fields[: len(schema.fields) - len(extra)]
    for f in payload:
        at = to_arrow_type(f.dataType)
        if f.name in tbl.column_names:
            col = tbl.column(f.name)
            if col.type != at:
                col = col.cast(at)
        else:
            col = pa.nulls(n, at)
        arrays.append(col)
        fields.append(pa.field(f.name, at))
    for name, value in extra:
        at = pa.string() if isinstance(value, str) else pa.int64()
        arrays.append(pa.repeat(pa.scalar(value, at), n))
        fields.append(pa.field(name, at))
    yield from pa.table(arrays, schema=pa.schema(fields)).to_batches()


class ChangeFeedStreamReader(DataSourceStreamReader):
    """Exactly-once tail of one or more listings, one offset per feed.

    Position-boundary slicing (not counts) makes every replayed batch
    read exactly the recorded range regardless of later commits.
    Offsets live in Spark's checkpoint: ``{KEY: position}`` for one
    untagged feed, ``{KEY: {tag: position}}`` when ``tags`` name the
    feeds (and each row carries its ``_ffs_feed`` tag)."""

    def __init__(
        self,
        listings: list[_Listing],
        tags: Optional[list[str]],
        schema: T.StructType,
    ):
        self.listings = listings
        self.tags = tags
        self.schema_ = schema

    def _offset(self, positions: list) -> dict:
        key = self.listings[0].OFFSET_KEY
        if self.tags is None:
            return {key: positions[0]}
        return {key: dict(zip(self.tags, positions))}

    def _positions(self, offset: dict) -> list:
        got = offset[self.listings[0].OFFSET_KEY]
        if self.tags is None:
            return [got]
        return [
            got.get(t, listing.GENESIS)
            for t, listing in zip(self.tags, self.listings)
        ]

    def initialOffset(self) -> dict:
        return self._offset([li.start for li in self.listings])

    def latestOffset(self) -> dict:
        return self._offset([li.head() for li in self.listings])

    def partitions(self, start: dict, end: dict) -> list[ChangeFilePartition]:
        parts = []
        bounds = zip(self._positions(start), self._positions(end))
        for i, (listing, (lo, hi)) in enumerate(zip(self.listings, bounds)):
            tag = [] if self.tags is None else [(_FEED_COL, self.tags[i])]
            parts += [
                ChangeFilePartition(path, constants + tag)
                for path, constants in listing.files(lo, hi)
            ]
        return parts

    def read(self, partition: ChangeFilePartition):
        return _sidecar_batches(
            partition.path, self.schema_, partition.constants
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; commits are immutable


class ChangeFeedBatchReader(DataSourceReader):
    """The recorded feed as one batch frame: the stream's partitions
    between its initial and its latest offset."""

    def __init__(self, stream: ChangeFeedStreamReader):
        self.stream = stream

    def partitions(self) -> list[ChangeFilePartition]:
        s = self.stream
        return s.partitions(s.initialOffset(), s.latestOffset())

    def read(self, partition: ChangeFilePartition):
        return self.stream.read(partition)


class StoreCDFDataSource(DataSource):
    """``spark.read/readStream.format("store_cdf").option("path",
    store_root)`` — batch reads the full recorded feed; streaming
    tails it with exactly-once version-name offsets.

    MULTIPLEXED form: ``.option("paths", "root1,root2,...")`` with
    ``.option("tags", "fact,dim0,...")`` tails SEVERAL stores' feeds
    through ONE source — the schema is the by-name union of the
    per-root sidecar schemas (typed NULLs where a feed lacks a
    column — exactly the ``unionByName(allowMissingColumns=True)``
    frame consumers would build from N separate sources) plus
    ``commit_ms`` and a ``_ffs_feed`` tag column. Every Python
    streaming source costs one dedicated runner PROCESS per query
    start (~1-1.5 s each: interpreter + pyspark import + handshake;
    guide §4 — the Python boundary's fixed costs); a star consumer
    tailing N+1 feeds through one multiplexed source pays that once
    instead of N+1 times, at every (re)start. Offsets are per-tag
    version names, so exactly-once replay semantics are unchanged
    feed by feed."""

    @classmethod
    def name(cls) -> str:
        return "store_cdf"

    def _feeds(self) -> tuple[list[_Listing], Optional[list[str]]]:
        if "paths" not in self.options:
            return [_StoreListing(self.options["path"])], None
        roots = [p for p in self.options["paths"].split(",") if p]
        tags = [
            t
            for t in self.options.get(
                "tags",
                ",".join(f"feed{i}" for i in range(len(roots))),
            ).split(",")
            if t
        ]
        if len(tags) != len(roots):
            raise ValueError(
                "store_cdf: 'tags' must name one tag per path"
            )
        # duplicate tags would collapse the per-tag offset map (one
        # store's version window compared against another's names —
        # silent replay loss/duplication). Commas inside a path/tag
        # are rejected in load_feeds, before the options are joined
        # (r11 ADVICE).
        if len(set(tags)) != len(tags):
            raise ValueError(
                "store_cdf: duplicate feed tags — each multiplexed "
                "feed needs a distinct tag (offsets are per tag)"
            )
        return [_StoreListing(r) for r in roots], tags

    def schema(self) -> str:
        listings, tags = self._feeds()
        # by-name union across feeds, first occurrence anchors the
        # type and the position — the unionByName(allowMissingColumns)
        # shape (a single feed is the one-element case)
        seen: dict[str, str] = {}
        for listing in listings:
            for f in listing.newest_fields():
                seen.setdefault(f.name, _ddl_type(f.dataType))
        cols = [f"{_ddl_name(n)} {t}" for n, t in seen.items()]
        cols.append(listings[0].CONSTANTS_DDL)
        if tags is not None:
            cols.append(f"`{_FEED_COL}` string")
        return ", ".join(cols)

    def reader(self, schema: T.StructType) -> ChangeFeedBatchReader:
        listings, tags = self._feeds()
        if tags is not None:
            raise ValueError(
                "store_cdf: the multiplexed form is streaming-only"
            )
        return ChangeFeedBatchReader(
            ChangeFeedStreamReader(listings, tags, schema)
        )

    def streamReader(self, schema: T.StructType) -> ChangeFeedStreamReader:
        return ChangeFeedStreamReader(*self._feeds(), schema)


class TxnCDFDataSource(StoreCDFDataSource):
    """``spark.read/readStream.format("store_cdf_txn").option("path",
    backend_root)`` — the change feed of the lock-free multi-writer
    log; streaming offsets are the dense integer log versions.
    ``startingVersion`` (default 1) is the first version served:
    versions below are never opened — the escape hatch for
    retention-vacuumed or pre-CDF history."""

    @classmethod
    def name(cls) -> str:
        return "store_cdf_txn"

    def _feeds(self) -> tuple[list[_Listing], None]:
        start = int(self.options.get("startingVersion", 1)) - 1
        return [_LogListing(self.options["path"], start)], None


def load_feeds(
    spark, roots: list[str], tags: list[str]
) -> tuple["DataFrame", list[list[str]]]:  # noqa: F821
    """One MULTIPLEXED change-feed stream over ``roots`` (tag column
    ``_ffs_feed``), plus each feed's standalone column list (sidecar
    columns + ``commit_ms``) — what the star/join consumers need to
    slice the tagged union back into per-feed frames. Equivalent to N
    separate ``readStream.format("store_cdf")`` loads unioned
    ``allowMissingColumns`` — but one Python runner process per query
    start instead of N (guide §4)."""
    bad = [x for x in [*roots, *tags] if "," in x]
    if bad:
        raise ValueError(
            f"load_feeds: {bad} contain ',' — the multiplexed "
            "options are comma-separated and cannot encode them"
        )
    feed_cols = [
        [f.name for f in _StoreListing(r).newest_fields()] + ["commit_ms"]
        for r in roots
    ]
    stream = (
        spark.readStream.format("store_cdf")
        .option("paths", ",".join(roots))
        .option("tags", ",".join(tags))
        .load()
    )
    return stream, feed_cols


def register(spark) -> bool:
    """Register the ``store_cdf`` connector on a session; returns False
    when the pyspark.sql.datasource API is unavailable (pyspark < 4)."""
    if not _HAS_DATASOURCE_API:
        return False
    spark.dataSource.register(StoreCDFDataSource)
    return True


def register_txn(spark) -> bool:
    """Register the ``store_cdf_txn`` connector; False when the
    pyspark.sql.datasource API is unavailable (pyspark < 4)."""
    if not _HAS_DATASOURCE_API:
        return False
    spark.dataSource.register(TxnCDFDataSource)
    return True
