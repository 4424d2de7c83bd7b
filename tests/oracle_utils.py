"""Local replica of the driver's oracle check: run a Spark query and its
DuckDB SQL side-by-side, compare row count + schema-width + order-insensitive
values (exact, including float bits — if this passes, the driver's
value-hash will too)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle engine: the multi-leg sweep oracles nest several
    # full IVFADC chains whose MATERIALIZED CTEs DuckDB builds
    # concurrently per thread — at default settings (32 threads, 80% of
    # RAM) the sf1 probe of a 6-leg sweep exhausts memory mid-pipeline.
    # 8 threads + an explicit ceiling keeps peak memory proportional to
    # one leg; sub-second oracles at gate scale are unaffected.
    con.sql("SET threads = 8")
    con.sql("SET memory_limit = '48GB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(v)  # exact double round-trip
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return repr(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_value(v) for v in row))
    return sorted(out)


def oracle_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duck_connection(sf_dir)  # the relation needs its connection open
    return con.sql(sql).fetchdf()


def compare_with_oracle(spark_df, sql: str, sf_dir: str) -> None:
    compare_frames(spark_df.toPandas(), oracle_frame(sql, sf_dir))


def compare_frames(mine: pd.DataFrame, oracle: pd.DataFrame) -> None:
    """Assert a Spark result (as pandas) equals the oracle's: same
    columns, row count and canonical values."""
    assert sorted(mine.columns) == sorted(oracle.columns), (
        f"column mismatch: {sorted(mine.columns)} vs {sorted(oracle.columns)}"
    )
    assert len(mine) == len(oracle), f"row count {len(mine)} vs {len(oracle)}"
    a, b = canonical_rows(mine), canonical_rows(oracle)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")
