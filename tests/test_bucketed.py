"""Bucketed tables: equi-joins between co-bucketed tables plan with NO
shuffle (the physical plan contains no Exchange)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aqi_featurestore_spark.sources.bucketed import read_bucketed, write_bucketed


def test_bucketed_join_has_no_exchange(spark):
    # tables land in the session fixture's per-run warehouse; dropped below
    left = spark.range(2000).select(
        (F.col("id") % 97).alias("entity_id"), F.col("id").alias("event_id"),
        (F.col("id") % 13).cast("double").alias("val"),
    )
    right = spark.range(97).select(
        F.col("id").alias("entity_id"), F.concat(F.lit("t"), F.col("id")).alias("tag")
    )
    write_bucketed(left, "t_feat_b", keys=["entity_id"], buckets=8,
                   sort_by=["entity_id"])
    write_bucketed(right, "t_dim_b", keys=["entity_id"], buckets=8,
                   sort_by=["entity_id"])
    try:
        # force a non-broadcast join so the shuffle (or its absence) shows
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "t_feat_b").join(
            read_bucketed(spark, "t_dim_b"), "entity_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 2000
        # sanity: the same join over unbucketed data DOES shuffle
        plain = left.join(right, "entity_id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_feat_b")
        spark.sql("DROP TABLE IF EXISTS t_dim_b")
