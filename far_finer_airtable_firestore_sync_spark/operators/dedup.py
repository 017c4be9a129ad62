"""Keep-latest dedup (D1) and null-pk filter (P3).

Reference: ``DataProcessor.process_duplicate_names``
(lib/DataProcessor.py:65-97): group by primary key, keep the row with
the max ``Created``; rows with NULL/'' pk are skipped (:79-82); a row
missing ``Created`` gets ``now()`` (:84) — i.e. sorts newest.

The reference's tie-break is "first seen wins" in Python-dict iteration
order (:86-92) — nondeterministic for a distributed engine, so we
define a deterministic total order instead (SURVEY.md §7 hard-part #2):
``(order_col DESC NULLS FIRST, tiebreak_col DESC)`` — i.e. MAX(tiebreak)
wins, matching both the ``max_by`` struct ordering below and
``keep_latest_sql``. NULLS FIRST on the descending order column
reproduces the missing-``Created``-is-newest behavior.

Scale note: implemented as ``groupBy(pk).agg(max_by(...))`` — a hash
aggregate with map-side partial aggregation, so the shuffle carries at
most one row per (partition, key) instead of the full table that a
window + row_number would sort. At 100 TB this is the difference
between a bounded shuffle and a full-table sort.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_valid_pk(df: DataFrame, primary_key: str) -> DataFrame:
    """Drop rows whose pk is NULL or '' (lib/DataProcessor.py:79-82)."""
    pk = F.col(primary_key)
    cond = pk.isNotNull()
    if dict(df.dtypes)[primary_key] == "string":
        cond = cond & (pk != F.lit(""))
    return df.filter(cond)


def _order_key(df: DataFrame, order_col: str, tiebreak_col: Optional[str]) -> Column:
    # NULL order values must win (missing Created -> now() -> newest):
    # map NULL to +inf via a 2-level struct (is_null flag first).
    parts: list[Column] = [
        F.col(order_col).isNull().cast("int").alias("o_null"),
        F.col(order_col).alias("o_val"),
    ]
    if tiebreak_col is not None:
        # max_by keeps the MAX ordering key; ASC tie-break on the last
        # component means "smallest tiebreak wins" needs a descending
        # flip — only possible generically by negation for numerics, so
        # we document tie-break as MAX(tiebreak) instead. Deterministic
        # either way.
        parts.append(F.col(tiebreak_col).alias("o_tie"))
    return F.struct(*parts)


def keep_latest(
    df: DataFrame,
    primary_key: str,
    order_col: str = "Created",
    tiebreak_col: Optional[str] = None,
) -> DataFrame:
    """Top-1-per-key dedup: keep the latest row for each pk (D1).

    One row out per distinct valid pk; deterministic under ties via
    ``tiebreak_col`` (MAX wins).

    The pk comes out as the grouping column itself, not as
    ``_row.<pk>``: the aggregate's output is hash-partitioned on that
    attribute, and a join on the pk downstream (the sync strategies)
    reuses the partitioning instead of shuffling the source again.
    Read from the struct, the pk would be a new attribute and that
    partitioning would be lost. (A floating-point pk therefore comes out as the
    normalized group key: ``-0.0`` reads ``0.0``.)
    """
    valid = filter_valid_pk(df, primary_key)
    payload = F.max_by(
        F.struct(*[F.col(c) for c in df.columns if c != primary_key]),
        _order_key(df, order_col, tiebreak_col),
    ).alias("_row")
    out = valid.groupBy(primary_key).agg(payload)
    return out.select(
        *[F.col(c) if c == primary_key else F.col(f"_row.{c}").alias(c)
          for c in df.columns]
    )


def keep_latest_sql(
    relation: str,
    columns: Sequence[str],
    primary_key: str,
    order_col: str,
    tiebreak_col: str,
    pk_is_string: bool = False,
) -> str:
    """DuckDB-oracle SQL equivalent of :func:`keep_latest`."""
    cols = ", ".join(f'"{c}"' for c in columns)
    empty = f" and \"{primary_key}\" <> ''" if pk_is_string else ""
    return f"""
select {cols} from (
  select {cols}, row_number() over (
    partition by "{primary_key}"
    order by "{order_col}" desc nulls first, "{tiebreak_col}" desc
  ) as _rn
  from {relation}
  where "{primary_key}" is not null{empty}
) where _rn = 1
"""
