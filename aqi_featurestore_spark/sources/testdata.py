"""Readers for the driver-generated parquet tables (TESTDATA.md).

The ``events`` table carries nanosecond-precision parquet timestamps,
which Spark's vectorized reader rejects by default
(PARQUET_TYPE_ILLEGAL TIMESTAMP(NANOS)). We read them via the documented
``spark.sql.legacy.parquet.nanosAsLong`` escape hatch and convert
ns -> microsecond timestamps with integer arithmetic (``DIV 1000`` — a
double division would lose precision above 2^53 ns). Truncation toward
zero matches how DuckDB ingests the same file, so oracle comparisons stay
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from aqi_featurestore_spark.schemas import EMBEDDINGS

#: tables read with their declared schema instead of an inferred one;
#: inferring a parquet schema runs a Spark job at every read
DECLARED = {"embeddings": EMBEDDINGS}


def _pin_session(spark: SparkSession) -> None:
    """Runtime-settable confs the engine depends on, applied defensively:
    the driver's verify harness builds its own SparkSession, which may not
    carry our session.py defaults. UTC keeps timestamp semantics aligned
    with the DuckDB oracle (naive-UTC)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with ``ts`` as a proper TimestampType regardless of the
    file's physical unit."""
    _pin_session(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing timestamp units where needed.
    A table in :data:`DECLARED` reads with its declared schema, so
    building a plan over it runs no Spark job."""
    if name == "events":
        return read_events(spark, sf_dir)
    _pin_session(spark)
    reader = spark.read
    if name in DECLARED:
        reader = reader.schema(DECLARED[name])
    return reader.parquet(f"{sf_dir}/{name}.parquet")


TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the full surface is
    queryable through ``spark.sql`` (the reference's SQL probes, S10; and
    ANSI-SQL users generally). Views are lazily planned — registration
    costs nothing until queried."""
    import os

    for name in TESTDATA_TABLES:
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)
