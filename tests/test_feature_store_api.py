"""FeatureStore facade: the reference's five-call user API end-to-end
(apply -> write_offline -> get_historical_features -> materialize /
write_to_online_store -> get_online_features)."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.registry import FeatureView
from aqi_featurestore_spark.store import FeatureStore

VIEW = FeatureView(
    name="aqi_info_v1",
    entities=("entity_id",),
    ttl=timedelta(days=7),
    features=(("aqi", "double"), ("hour", "int")),
    source="offline/aqi_info_v1",
)


def _history(spark):
    rows = [
        ("21.0_105.75", "2023-01-01 00:00:00", 40.0, 0),
        ("21.0_105.75", "2023-01-01 06:00:00", 55.0, 6),
        ("21.0_105.75", "2023-01-02 00:00:00", 70.0, 0),
        ("19.5_102.0", "2023-01-01 12:00:00", 30.0, 12),
    ]
    return (
        spark.createDataFrame(
            rows, "entity_id string, feature_timestamp string, aqi double, hour int"
        )
        .withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))
    )


@pytest.fixture()
def store(spark, tmp_path):
    fs = FeatureStore(spark, str(tmp_path / "fs"))
    fs.apply(VIEW)
    fs.write_offline("aqi_info_v1", _history(spark))
    return fs


def test_registry_listing(store):
    views = store.list_feature_views()
    assert [v.name for v in views] == ["aqi_info_v1"]
    assert views[0].ttl == timedelta(days=7)


def test_offline_idempotent_rewrite(store, spark):
    # re-appending the same batch must not duplicate history (ST6 fix)
    store.write_offline("aqi_info_v1", _history(spark))
    assert store.read_offline("aqi_info_v1").count() == 4


def test_historical_features_pit_semantics(store, spark):
    spine = spark.createDataFrame(
        [
            ("21.0_105.75", "2023-01-01 07:30:00"),  # between obs 2 and 3
            ("21.0_105.75", "2022-12-31 23:00:00"),  # before any history
            ("19.5_102.0", "2023-01-20 00:00:00"),   # beyond 7d TTL
        ],
        "entity_id string, event_timestamp string",
    ).withColumn("event_timestamp", F.to_timestamp("event_timestamp"))
    out = store.get_historical_features(spine, ["aqi_info_v1:aqi", "aqi_info_v1:hour"])
    got = {(r["entity_id"], str(r["event_timestamp"])): (r["aqi"], r["hour"])
           for r in out.collect()}
    assert got[("21.0_105.75", "2023-01-01 07:30:00")] == (55.0, 6)  # as-of
    assert got[("21.0_105.75", "2022-12-31 23:00:00")] == (None, None)
    assert got[("19.5_102.0", "2023-01-20 00:00:00")] == (None, None)  # TTL
    assert out.count() == 3  # left semantics: every spine row survives


def test_historical_features_as_of_replay(store, spark):
    """Training-set reproducibility across store appends (round-8
    verdict ask #4): the PIT frame built at store version 1 is
    bit-identical when replayed with as_of=1 AFTER a later append that
    would otherwise change the as-of match."""
    spine = spark.createDataFrame(
        [("21.0_105.75", "2023-01-01 07:30:00")],
        "entity_id string, event_timestamp string",
    ).withColumn("event_timestamp", F.to_timestamp("event_timestamp"))
    feats = ["aqi_info_v1:aqi", "aqi_info_v1:hour"]
    archived = sorted(
        tuple(r) for r in store.get_historical_features(spine, feats).collect()
    )
    # a later backfill lands a CLOSER observation for the same entity
    late = spark.createDataFrame(
        [("21.0_105.75", "2023-01-01 07:00:00", 99.0, 7)],
        "entity_id string, feature_timestamp string, aqi double, hour int",
    ).withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))
    store.write_offline("aqi_info_v1", late)
    # current read sees the backfilled value...
    now = store.get_historical_features(spine, feats).collect()[0]
    assert (now["aqi"], now["hour"]) == (99.0, 7)
    # ...but the as_of=1 replay reproduces the archived frame exactly
    replay = sorted(
        tuple(r)
        for r in store.get_historical_features(spine, feats, as_of=1).collect()
    )
    assert replay == archived


def test_materialize_and_online_lookup(store, spark):
    store.materialize("aqi_info_v1")
    keys = spark.createDataFrame(
        [("21.0_105.75",), ("19.5_102.0",), ("0.0_0.0",)], "entity_id string"
    )
    # TTL is enforced relative to as_of: pick a time inside the window
    out = store.get_online_features(
        "aqi_info_v1", keys, as_of=F.to_timestamp(F.lit("2023-01-03 00:00:00"))
    )
    got = {r["entity_id"]: r["aqi"] for r in out.collect()}
    assert got["21.0_105.75"] == 70.0  # latest row won
    assert got["19.5_102.0"] == 30.0
    assert got["0.0_0.0"] is None  # unknown key -> NULL guard

    # beyond TTL everything masks to NULL
    stale = store.get_online_features(
        "aqi_info_v1", keys, as_of=F.to_timestamp(F.lit("2023-02-01 00:00:00"))
    )
    assert all(r["aqi"] is None for r in stale.collect())


def test_online_upsert_overwrites(store, spark):
    store.materialize("aqi_info_v1")
    update = spark.createDataFrame(
        [("21.0_105.75", "2023-01-02 05:00:00", 99.0, 5)],
        "entity_id string, feature_timestamp string, aqi double, hour int",
    ).withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))
    store.write_to_online_store("aqi_info_v1", update)
    keys = spark.createDataFrame([("21.0_105.75",)], "entity_id string")
    out = store.get_online_features(
        "aqi_info_v1", keys, as_of=F.to_timestamp(F.lit("2023-01-03 00:00:00"))
    ).collect()
    assert out[0]["aqi"] == 99.0 and out[0]["hour"] == 5


@pytest.mark.parametrize("materialize_first", [True, False])
def test_upsert_keeps_only_declared_columns(store, spark, materialize_first):
    # both snapshot writers hold the same columns: an extra batch column
    # neither breaks the union after materialize() nor gets served
    declared = ["entity_id", "feature_timestamp", "aqi", "hour"]
    online = store._online_path("aqi_info_v1")
    if materialize_first:
        store.materialize("aqi_info_v1")
        assert spark.read.parquet(online).columns == declared
    update = spark.createDataFrame(
        [("21.0_105.75", "2023-01-02 05:00:00", 99.0, 5, "extra")],
        "entity_id string, feature_timestamp string, aqi double, hour int,"
        " note string",
    ).withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))
    store.write_to_online_store("aqi_info_v1", update)
    assert spark.read.parquet(online).columns == declared
    keys = spark.createDataFrame([("21.0_105.75",)], "entity_id string")
    out = store.get_online_features(
        "aqi_info_v1", keys, as_of=F.to_timestamp(F.lit("2023-01-03 00:00:00"))
    )
    assert "note" not in out.columns
    assert out.collect()[0]["aqi"] == 99.0


def test_registry_persists_across_instances(spark, tmp_path):
    fs1 = FeatureStore(spark, str(tmp_path / "fs_persist"))
    fs1.apply(VIEW)
    # a brand-new FeatureStore over the same path sees the applied view
    fs2 = FeatureStore(spark, str(tmp_path / "fs_persist"))
    views = fs2.list_feature_views()
    assert [v.name for v in views] == ["aqi_info_v1"]
    assert views[0].ttl == VIEW.ttl
    assert views[0].features == VIEW.features
