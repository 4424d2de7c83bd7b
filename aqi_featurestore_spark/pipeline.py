"""End-to-end feature pipeline over the driver's synthetic tables.

Domain mapping (FIXTURES.md §1): the ``events`` table stands in for the raw
sensor feed — ``user_id`` is the entity (grid cell), ``ts`` the observation
time, ``value`` the PM2.5-like concentration. The pipeline reproduces the
reference's transform (spark/code/write_to_bigquery.py:78-110): derive time
components + entity key + piecewise AQI, project the feature row — then the
training query (model/aqi_predict_hn.py): PIT join a spine, reconstruct
datetime, lag, drop incomplete rows.

Everything is one Catalyst plan per query: no per-day driver loop (the
reference reads and writes each day-partition serially), no Python UDFs.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aqi_featurestore_spark.functions.aqi import aqi_from_pm25
from aqi_featurestore_spark.functions.time_features import (
    entity_key,
    reconstructed_datetime,
    time_feature_columns,
)
from aqi_featurestore_spark.operators.lag import add_lag_features
from aqi_featurestore_spark.operators.pit_join import point_in_time_join_sorted
from aqi_featurestore_spark.sources.testdata import read_events

TTL = timedelta(days=7)


def derive_features(events: DataFrame) -> DataFrame:
    """Raw events -> offline feature rows.

    Mirrors write_to_bigquery.py:81-110 with ``ts``/``value``/``user_id``
    standing in for ``dt``/``pm2_5``/``(lat,lon)``. All native expressions:
    one projection, stays in whole-stage codegen.
    """
    t = time_feature_columns(F.col("ts"))
    return events.select(
        entity_key("user_id").alias("entity_id"),
        F.col("ts").alias("feature_timestamp"),
        F.unix_timestamp("ts").alias("dt"),
        F.col("value"),
        aqi_from_pm25("value", default=8.5).alias("aqi"),
        t["hour"].alias("hour"),
        t["day"].alias("day"),
        t["dayOfWeek"].alias("dayOfWeek"),
        F.col("event_id"),
    )


def build_spine(events: DataFrame) -> DataFrame:
    """Deterministic entity spine from the events table.

    Reference shape: N hourly timestamps per entity
    (model/aqi_predict_hn.py:18-21). Here: every 7th event's timestamp
    shifted +30 min (lands strictly between observations, exercising the
    as-of lookback) — deterministic, so the DuckDB oracle can rebuild it.
    """
    return events.where(F.col("event_id") % 7 == 0).select(
        entity_key("user_id").alias("entity_id"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("event_timestamp"),
    )


def historical_features(
    spine: DataFrame, features: DataFrame, *, ttl: timedelta | None = TTL
) -> DataFrame:
    """``get_historical_features`` equivalent (S14/J1): as-of join with TTL,
    deterministic tie-break on the ingest id.

    Uses the sort-merge strategy: the flagship spine is event-scale (not
    broadcastable), where one merge sort beats materializing every in-TTL
    candidate (2.2x at sf0.1; the gap widens with TTL window size).
    Equivalence to the join+max_by formulation is property-tested."""
    return point_in_time_join_sorted(
        spine,
        features,
        ["entity_id"],
        ttl=ttl,
        feature_cols=["aqi", "hour", "day", "dayOfWeek"],
        tie_break=["event_id"],
    )


def training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query — full §3.2 lifecycle in one Catalyst plan:
    raw events -> features -> PIT join -> datetime reconstruction -> lag ->
    drop incomplete. Returns the model-ready frame.

    Spine rows with no in-TTL feature match are dropped *before* the lag
    window (the reference's pandas ``dropna()`` drops them too, but only
    after they have shifted through ``shift(1)`` with a NaT sort key —
    order-undefined; dropping first gives one well-defined semantics that
    the DuckDB oracle mirrors exactly).
    """
    events = read_events(spark, sf_dir)
    features = derive_features(events)
    spine = build_spine(events)
    joined = historical_features(spine, features).where(F.col("aqi").isNotNull())
    with_dt = joined.withColumn(
        "datetime", reconstructed_datetime("event_timestamp", "hour")
    )
    return add_lag_features(
        with_dt,
        {"aqi": "last_hour_aqi"},
        partition_by=["entity_id"],
        order_by=["datetime", "event_timestamp"],
        drop_incomplete=True,
    ).select(
        "entity_id",
        "event_timestamp",
        "aqi",
        "hour",
        "day",
        "dayOfWeek",
        "last_hour_aqi",
    )
