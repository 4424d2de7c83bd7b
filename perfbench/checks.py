"""Output checks, run outside every timed region.

Registry queries are compared with their ``ORACLE_SQL`` in DuckDB using
the canonical-row rule of ``tests/oracle_utils.py`` (exact values, float
bits included, order-insensitive). Feature-store reads are compared with
a DuckDB recomputation from the ``events`` input.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import duckdb
import pandas as pd

from aqi_featurestore_spark.plans._base import _FEAT_CTE
from tests.oracle_utils import canonical_rows


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per input table present."""
    con = duckdb.connect()
    con.sql(f"SET threads = {len(os.sched_getaffinity(0))}")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    return con


def _as_float(df: pd.DataFrame) -> pd.DataFrame:
    """Numeric columns as float64, so an int column that holds NULLs
    (float in one engine's frame, nullable int in the other's) compares
    by value."""
    return df.apply(
        lambda s: s.astype("float64") if pd.api.types.is_numeric_dtype(s) else s
    )


def mismatch(
    mine: pd.DataFrame, expected: pd.DataFrame, *, numeric_as_float: bool = False
) -> str | None:
    """None when both frames hold the same rows, else a short reason."""
    if sorted(mine.columns) != sorted(expected.columns):
        return f"columns {sorted(mine.columns)} vs {sorted(expected.columns)}"
    if len(mine) != len(expected):
        return f"row count {len(mine)} vs {len(expected)}"
    if numeric_as_float:
        mine, expected = _as_float(mine), _as_float(expected)
    a, b = canonical_rows(mine), canonical_rows(expected)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ, first: {diffs}"
    return None


def oracle_mismatch(con, mine: pd.DataFrame, sql: str) -> str | None:
    return mismatch(mine, con.sql(sql).fetchdf())


def _ingested(upto: datetime) -> str:
    """Feature rows ingested so far: every event before ``upto``."""
    return f"""WITH {_FEAT_CTE.strip()},
ing AS (SELECT * FROM feat WHERE feature_timestamp < TIMESTAMP '{upto}')"""


def expected_online(
    con, keys: list[str], upto: datetime, as_of: datetime, ttl: timedelta, features: list[str]
) -> pd.DataFrame:
    """``get_online_features`` recomputed: latest ingested row per key,
    NULL for unknown keys and for rows older than ``as_of - ttl``."""
    req = pd.DataFrame({"entity_id": keys})
    con.register("req", req)
    cols = ", ".join(
        f"CASE WHEN l.feature_timestamp >= TIMESTAMP '{as_of - ttl}' "
        f'THEN l."{c}" END AS "{c}"'
        for c in ["feature_timestamp", *features]
    )
    sql = f"""{_ingested(upto)},
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY entity_id ORDER BY feature_timestamp DESC, event_id DESC) AS rn
    FROM ing) WHERE rn = 1)
SELECT r.entity_id, {cols}
FROM req r LEFT JOIN latest l ON r.entity_id = l.entity_id"""
    try:
        return con.sql(sql).fetchdf()
    finally:
        con.unregister("req")


def expected_historical(
    con, spine: pd.DataFrame, upto: datetime, views: list[tuple[timedelta, list[str]]]
) -> pd.DataFrame:
    """``get_historical_features`` recomputed with the ``_PIT_CTES``
    as-of rule: per spine row and view, the latest ingested row at or
    before ``event_timestamp`` and inside the view's TTL; the first view
    wins a column both views name."""
    con.register("spine_in", spine)
    picked: list[str] = []
    joins, selects = [], []
    for i, (ttl, features) in enumerate(views):
        cols = [c for c in features if c not in picked]
        picked += cols
        body = ", ".join(f'f."{c}"' for c in cols)
        joins.append(
            f"""LEFT JOIN (
  SELECT * FROM (
    SELECT s.entity_id, s.event_timestamp, {body},
           row_number() OVER (
             PARTITION BY s.entity_id, s.event_timestamp
             ORDER BY f.feature_timestamp DESC, f.event_id DESC) AS rn
    FROM (SELECT DISTINCT entity_id, event_timestamp FROM spine_in) s
    JOIN ing f
      ON s.entity_id = f.entity_id
     AND f.feature_timestamp <= s.event_timestamp
     AND f.feature_timestamp >= s.event_timestamp - INTERVAL '{int(ttl.total_seconds())} seconds'
  ) WHERE rn = 1) v{i}
  ON sp.entity_id = v{i}.entity_id AND sp.event_timestamp = v{i}.event_timestamp"""
        )
        selects += [f'v{i}."{c}"' for c in cols]
    sql = f"""{_ingested(upto)}
SELECT sp.entity_id, sp.event_timestamp, {", ".join(selects)}
FROM spine_in sp
{chr(10).join(joins)}"""
    try:
        return con.sql(sql).fetchdf()
    finally:
        con.unregister("spine_in")
