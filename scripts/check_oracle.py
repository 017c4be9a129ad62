"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry through Spark and its ``oracle_sql()``
through DuckDB on the same parquet tables, then compares row count,
schema (sorted column names) and an order-insensitive value multiset.

Usage: python scripts/check_oracle.py [sf_dir] [name ...]   (from any directory)

The session is ``conf.local_session``, sized from the host;
SPARK_GRAFT_CPUS / SPARK_GRAFT_MEM override it.

Set ORACLE_JSON_OUT=<path> to also write a machine-readable artifact
(one record per entry: status/rows/error) — committed per round as
ORACLE_LOCAL_r{N}.json so the half of the contract the driver's
50-query sample never touches stays auditable.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return f"{type(v).__name__}:{v}"


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from far_finer_airtable_firestore_sync_spark.conf import local_session

    spark = local_session("check-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            # entries may persist reused intermediates (guide §5);
            # drop them between entries like bench.py does, so one
            # entry's cache never squeezes the next one's execution
            spark.catalog.clearCache()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            records[name] = {"status": "fail", "error": f"spark: {ex}"[:300]}
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"WEAK {name}: no oracle, rows={len(s_rows)}")
            records[name] = {"status": "weak_no_oracle", "rows": len(s_rows)}
            continue
        try:
            res = con.execute(sql)
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            records[name] = {"status": "fail", "error": f"duckdb: {ex}"[:300]}
            failures += 1
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema {sorted(s_cols)} vs {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if not problems:
            ms, md = rows_multiset(s_cols, s_rows), rows_multiset(d_cols, d_rows)
            if ms != md:
                diff = [(a, b) for a, b in zip(ms, md) if a != b][:2]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            records[name] = {"status": "fail", "error": "; ".join(problems)[:300]}
            failures += 1
        else:
            print(f"OK   {name}: rows={len(s_rows)}")
            records[name] = {
                "status": "ok",
                "rows": len(s_rows),
                "rows_match": True,
                "schema_match": True,
                "values_match": True,
            }

    spark.stop()
    out_path = os.environ.get("ORACLE_JSON_OUT")
    if out_path and not only:
        import json

        summary = {
            "sf_dir": sf_dir,
            "n_entries": len(records),
            "n_ok": sum(1 for r in records.values() if r["status"] == "ok"),
            "n_weak": sum(
                1 for r in records.values() if r["status"] == "weak_no_oracle"
            ),
            "n_fail": failures,
            "entries": records,
        }
        with open(out_path, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
