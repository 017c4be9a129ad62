"""Seeded input generators and the closed-form models the outputs are
checked against. Everything here is pure Python plus pyarrow: the
engine only ever sees the files these classes write, and the same seed
writes byte-identical files."""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq


def row_hash(*vals) -> int:
    """One row's term of the order-insensitive table hash; the Spark side
    is :func:`spark_table_hash` over the same columns joined by '|'."""
    s = "|".join(str(v) for v in vals)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def spark_table_hash(df, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of row hashes) of a DataFrame, in one Spark job."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])), 1, 15),
        16, 10,
    ).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# -- feed_sync: Airtable-shaped snapshots ---------------------------------------

#: JSONL pages per snapshot
PAGES = 16
#: shares of the key range each snapshot inserts (and deletes), rewrites
#: and repeats as stale duplicates
SHIFT, REWRITE, DUP = 0.01, 0.01, 0.02
#: rewritten records read back after each sync
FEED_POINT_READS = 9

FEED_FIELDS = ("Name", "Score", "Qty", "Active", "Day", "Note", "Created")
#: Airtable field types of the snapshot (the connector reads every field
#: as a string; the typed projection applies these).
FEED_CATALOG = {
    "Name": "singleLineText",
    "Score": "number",
    "Qty": "number",
    "Active": "checkbox",
    "Day": "date",
    "Note": "multilineText",
    "Created": "dateTime",
}
FEED_KINDS = {
    "Name": "string",
    "Score": "double",
    "Qty": "double",
    "Active": "boolean",
    "Day": "date",
    "Note": "string",
    "Created": "timestamp",
}


@dataclass
class FeedSnapshot:
    number: int
    pages_dir: str
    staged_dir: str
    n_records: int  # records in the pages, duplicates included
    n_keys: int  # distinct keys == rows after dedup
    inserted: int
    deleted: int
    rewritten: int
    probes: list  # (Name, Note) of keys whose payload this snapshot rewrote
    expected_hash: tuple  # (rows, hash) of the table after syncing it

    @property
    def changed_rows(self) -> int:
        return self.inserted + self.deleted + self.rewritten


class FeedGen:
    """Full-table snapshots of a keyed record feed of ``n`` keys.
    Snapshot ``s`` holds keys ``[s*shift, s*shift + n)``: each snapshot
    inserts ``shift`` keys and drops ``shift``, rewrites the payload of
    ``n_rewrite`` surviving keys, and repeats ``n_dup`` keys with an
    older ``Created`` and a stale payload that dedup must discard."""

    def __init__(self, seed: int, n: int):
        self.rng = random.Random(seed)
        self.salt = self.rng.getrandbits(32)
        self.n = n
        self.shift = max(1, round(n * SHIFT))
        self.n_rewrite = max(1, round(n * REWRITE))
        self.n_dup = max(1, round(n * DUP))
        self.version: dict[int, int] = {}
        self.number = -1

    def _fields(self, i: int, v: int, stale: bool = False) -> dict:
        h = (i * 2654435761 + v * 40503 + self.salt) & 0xFFFFFFFF
        if stale:
            h ^= 0x5A5A5A5A
        return {
            "Name": f"k{i:09d}",
            "Score": f"{h % 100000 / 100:.2f}",
            "Qty": str(h % 997),
            "Active": "true" if h & 1 else "false",
            "Day": f"2024-{1 + h % 12:02d}-{1 + h % 28:02d}",
            "Note": f"n{i}v{v}" + ("-stale" if stale else ""),
            "Created": (
                "2024-05-31 00:00:00" if stale
                else f"2024-06-01 {v // 60:02d}:{v % 60:02d}:00"
            ),
        }

    def next_snapshot(self, out_dir: str) -> FeedSnapshot:
        self.number += 1
        s = self.number
        lo = s * self.shift
        if s == 0:
            self.version = {i: 0 for i in range(self.n)}
            inserted, deleted, rewritten = self.n, 0, 0
            rewrite_keys: list[int] = []
        else:
            old_hi = lo - self.shift + self.n
            for i in range(lo - self.shift, lo):
                del self.version[i]
            survivors = range(lo, old_hi)
            rewrite_keys = self.rng.sample(survivors, self.n_rewrite)
            for i in rewrite_keys:
                self.version[i] += 1
            for i in range(old_hi, lo + self.n):
                self.version[i] = 0
            inserted = deleted = self.shift
            rewritten = self.n_rewrite
        keys = range(lo, lo + self.n)
        dups = set(self.rng.sample(keys, self.n_dup))
        per_page = -(-self.n // PAGES)
        pages: list[list[dict]] = [[] for _ in range(PAGES)]
        for j, i in enumerate(keys):
            p = j // per_page
            v = self.version[i]
            pages[p].append(
                {"id": f"rec{i}", "createdTime": "2024-06-01T00:00:00.000Z",
                 "fields": self._fields(i, v)}
            )
            if i in dups:  # the stale copy lands in another page
                pages[(p + PAGES // 2) % PAGES].append(
                    {"id": f"rec{i}", "createdTime": "2024-05-31T00:00:00.000Z",
                     "fields": self._fields(i, v, stale=True)}
                )
        pages_dir = os.path.join(out_dir, f"pages-{s:04d}")
        staged_dir = os.path.join(out_dir, f"staged-{s:04d}")
        os.makedirs(pages_dir)
        os.makedirs(staged_dir)
        for p, recs in enumerate(pages):
            with open(os.path.join(pages_dir, f"page-{p:05d}.jsonl"), "w") as fh:
                for r in recs:
                    fh.write(json.dumps(r) + "\n")
            cols = {f: [r["fields"][f] for r in recs] for f in FEED_FIELDS}
            _write_parquet(
                pa.table({f: pa.array(cols[f], pa.string()) for f in FEED_FIELDS}),
                os.path.join(staged_dir, f"part-{p:05d}.parquet"),
            )
        probes = [(f"k{i:09d}", f"n{i}v{self.version[i]}")
                  for i in (rewrite_keys or [lo])[:FEED_POINT_READS]]
        return FeedSnapshot(
            number=s, pages_dir=pages_dir, staged_dir=staged_dir,
            n_records=self.n + len(dups), n_keys=self.n,
            inserted=inserted, deleted=deleted, rewritten=rewritten,
            probes=probes,
            expected_hash=self.table_hash(),
        )

    def table_hash(self) -> tuple[int, int]:
        """(rows, hash of Name|Note) of the latest snapshot after dedup."""
        return len(self.version), sum(
            row_hash(f"k{i:09d}", f"n{i}v{v}") for i, v in self.version.items()
        )


# -- store_cdf: a fact store, its dimensions, and the maintained join ------------------

#: dimension rows, and the groups they start in
N_DIMS, N_GROUPS = 25, 5
#: keys per merge (half updates, half inserts)
MERGE_ROWS = 2000
#: keys per range read
RANGE_WIDTH = 1000
#: parquet files of the initial fact load
FACT_FILES = 8
#: touched keys read back after each op
STORE_POINT_READS = 1

VIEW_COLS = ("k", "nk", "cents", "gname")
FACT_COLS = ("k", "nk", "cents")


def _fact_table(rows: list) -> pa.Table:
    return pa.table({
        "k": pa.array([r[0] for r in rows], pa.int64()),
        "nk": pa.array([r[1] for r in rows], pa.int64()),
        "cents": pa.array([r[2] for r in rows], pa.int64()),
    })


class StoreModel:
    """Closed form of the store_cdf workload: facts ``k -> (nk, cents)``
    joined to dimensions ``d -> gname``. The maintained view is the
    join, the summary its per-``gname`` count and sum of cents."""

    def __init__(self, seed: int, n_facts: int):
        self.rng = random.Random(seed)
        self.n = n_facts
        self.facts: dict[int, tuple] = {}
        self.dims: dict[int, str] = {}
        self.next_id = n_facts
        self._pending: list = []

    def write_base(self, out_dir: str) -> tuple[str, str]:
        """Facts as ``FACT_FILES`` parquet files, each a contiguous key range
        (so zone maps can prune range reads), and the dimension table."""
        self.facts = {
            k: (self.rng.randrange(N_DIMS), self.rng.randrange(10_000))
            for k in range(self.n)
        }
        self.dims = {d: f"g{d % N_GROUPS}" for d in range(N_DIMS)}
        fact_dir = os.path.join(out_dir, "facts")
        os.makedirs(fact_dir)
        per = -(-self.n // FACT_FILES)
        for f in range(FACT_FILES):
            ks = range(f * per, min(self.n, (f + 1) * per))
            _write_parquet(_fact_table([(k, *self.facts[k]) for k in ks]),
                           os.path.join(fact_dir, f"part-{f:05d}.parquet"))
        dim_path = os.path.join(out_dir, "dims.parquet")
        _write_parquet(pa.table({
            "d": pa.array(list(self.dims), pa.int64()),
            "gname": pa.array(list(self.dims.values()), pa.string()),
        }), dim_path)
        return fact_dir, dim_path

    def merge_source(self, path: str) -> tuple[list[int], list[int]]:
        """Stage a merge of half updates, half inserts; returns its keys
        and the keys to read back."""
        half = MERGE_ROWS // 2
        upd = self.rng.sample(list(self.facts), half)
        ins = list(range(self.next_id, self.next_id + half))
        self.next_id += half
        rows = [(k, self.rng.randrange(N_DIMS), self.rng.randrange(10_000))
                for k in [*upd, *ins]]
        self.rng.shuffle(rows)
        _write_parquet(_fact_table(rows), path)
        self._pending = rows
        return [r[0] for r in rows], ins[:STORE_POINT_READS]

    def apply_merge(self) -> None:
        for k, nk, c in self._pending:
            self.facts[k] = (nk, c)

    def pick_range(self) -> tuple[int, int]:
        lo = self.rng.randrange(0, self.next_id - RANGE_WIDTH)
        return lo, lo + RANGE_WIDTH - 1

    def apply_dim_move(self, d: int, gname: str) -> list[int]:
        self.dims[d] = gname
        return [k for k, (nk, _c) in self.facts.items() if nk == d]

    def fact_row(self, k: int):
        row = self.facts.get(k)
        return None if row is None else dict(zip(FACT_COLS, (k, *row)))

    def view_row(self, k: int):
        row = self.facts.get(k)
        return None if row is None else dict(zip(VIEW_COLS, (k, *row, self.dims[row[0]])))

    def range_expect(self, lo: int, hi: int) -> tuple[int, int]:
        hit = [k for k in range(lo, hi + 1) if k in self.facts]
        return len(hit), sum(row_hash(k, *self.facts[k]) for k in hit)

    def summary(self) -> dict:
        out: dict[str, list] = {}
        for nk, c in self.facts.values():
            acc = out.setdefault(self.dims[nk], [0, 0])
            acc[0] += 1
            acc[1] += c
        return {g: tuple(v) for g, v in out.items()}

    def fact_hash(self) -> tuple[int, int]:
        return len(self.facts), sum(row_hash(k, *r) for k, r in self.facts.items())

    def view_hash(self) -> tuple[int, int]:
        return len(self.facts), sum(
            row_hash(k, nk, c, self.dims[nk]) for k, (nk, c) in self.facts.items()
        )
