"""The schema a feature-store write records (`_schema.json`, see
`sources/fs.record_schema`): every store read is built from it without a
Spark job, it reads the same rows schema inference reads, it survives
the store's rewrites, and an append that differs from it is refused."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.registry import FeatureView
from aqi_featurestore_spark.sources import fs
from aqi_featurestore_spark.sources.offline_store import OfflineStore
from aqi_featurestore_spark.store import FeatureStore

VIEW = FeatureView(
    name="v",
    entities=("entity_id",),
    ttl=timedelta(days=7),
    features=(("aqi", "double"), ("hour", "int")),
    source="offline/v",
)
SCHEMA = "entity_id string, feature_timestamp timestamp, aqi double, hour int"


def _utc(*args) -> datetime:
    return datetime(*args, tzinfo=timezone.utc)


def _batch(spark, day: int):
    return spark.createDataFrame(
        [
            ("a", _utc(2024, 3, day, 23, 30), 10.0 * day, 23),
            ("b", _utc(2024, 3, day, 0, 15), 10.0 * day + 1, 0),
        ],
        SCHEMA,
    )


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("recorded")
    store = FeatureStore(spark, str(root / "fs"))
    store.apply(VIEW)
    stats = OfflineStore(spark, str(root / "stats"), stat_cols=("aqi",))
    for day in (1, 2):
        store.write_offline("v", _batch(spark, day))
        stats.append(_batch(spark, day))
    store.write_to_online_store("v", _batch(spark, 2))
    return SimpleNamespace(store=store, stats=stats)


def _keys(spark):
    return spark.createDataFrame([("a",), ("b",), ("zz",)], "entity_id string")


def _spine(spark):
    return spark.createDataFrame(
        [("a", _utc(2024, 3, 2, 12)), ("b", _utc(2024, 3, 3))],
        "entity_id string, event_timestamp timestamp",
    )


CONSTRUCTIONS = {
    "get_online_features": lambda s, spark: s.store.get_online_features(
        "v", _keys(spark)
    ),
    "read_offline": lambda s, spark: s.store.read_offline("v"),
    "read_offline_as_of": lambda s, spark: s.store.read_offline("v", as_of=1),
    "read_where_ge": lambda s, spark: s.stats.read(where_ge=("aqi", 15.0)),
    "read_where_ge_all_skipped": lambda s, spark: s.stats.read(
        where_ge=("aqi", 1e9)
    ),
    "get_historical_features": lambda s, spark: s.store.get_historical_features(
        _spine(spark), ["v:aqi", "v:hour"]
    ),
}


@pytest.mark.parametrize("name", list(CONSTRUCTIONS))
def test_store_read_construction_runs_no_job(spark, stores, name):
    """Construct-layer pin: with the schema recorded at write time, no
    store read runs a parquet schema-inference job while it is built."""
    build = CONSTRUCTIONS[name]
    build(stores, spark).collect()  # the read works, and nothing is cold
    sc = spark.sparkContext
    group = f"store-construct-pin-{name}"
    sc.setJobGroup(group, "store read construction")
    try:
        build(stores, spark)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def _typed(df) -> list:
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _rows(df, cols) -> list:
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()), key=lambda r: repr(r)
    )


def test_recorded_schema_reads_the_rows_inference_reads(spark, tmp_path):
    """UTC timestamps near midnight, int and long widths, nulls, and the
    int partition columns read the same with the record as without."""
    batch = spark.createDataFrame(
        [
            ("a", _utc(2024, 1, 31, 23, 59, 59), 7, 2**40, None, "x"),
            ("b", _utc(2024, 2, 1, 0, 0, 1), None, -3, 1.5, None),
            ("c", _utc(2023, 12, 31, 12), -(2**31), None, -2.5, "z"),
        ],
        "entity_id string, feature_timestamp timestamp, n int, big long,"
        " aqi double, tag string",
    )
    offline = OfflineStore(spark, str(tmp_path / "offline"))
    offline.append(batch)
    recorded, inferred = offline.read(), spark.read.parquet(offline.path)
    assert _typed(recorded) == _typed(inferred)
    assert dict(_typed(recorded))["year"] == "int"
    assert _rows(recorded, inferred.columns) == _rows(inferred, inferred.columns)
    parts = sorted((r.entity_id, r.year, r.month, r.day) for r in recorded.collect())
    assert parts == [("a", 2024, 1, 31), ("b", 2024, 2, 1), ("c", 2023, 12, 31)]

    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.apply(VIEW)
    nulls = spark.createDataFrame([("c", _utc(2024, 3, 1), None, None)], SCHEMA)
    store.write_to_online_store("v", _batch(spark, 1).union(nulls))
    inferred = spark.read.parquet(store._online_path("v"))
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "entity_id string")
    served = store.get_online_features("v", keys, as_of=F.lit(_utc(2024, 3, 2)))
    assert _typed(served) == _typed(inferred)
    assert _rows(served, served.columns) == _rows(inferred, served.columns)


def test_schema_record_survives_compact_and_materialize(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.apply(VIEW)
    for day in (1, 2, 3):
        store.write_offline("v", _batch(spark, day))
    offline = store._offline(VIEW)
    before = _rows(offline.read(), offline.read().columns)
    offline.compact()
    assert os.path.exists(os.path.join(offline.path, fs.SCHEMA_FILE))
    assert _rows(offline.read(), offline.read().columns) == before

    store.materialize("v")
    online = store._online_path("v")
    assert os.path.exists(os.path.join(online, fs.SCHEMA_FILE))
    served = store.get_online_features(
        "v", _keys(spark), as_of=F.lit(_utc(2024, 3, 4))
    ).collect()
    assert {r.entity_id: r.aqi for r in served} == {"a": 30.0, "b": 31.0, "zz": None}


@pytest.mark.parametrize(
    "change",
    [
        lambda b: b.withColumn("note", F.lit("extra")),
        lambda b: b.withColumn("hour", F.col("hour").cast("long")),
    ],
    ids=["extra_column", "type_change"],
)
def test_append_refuses_a_batch_that_differs_from_the_record(spark, tmp_path, change):
    offline = OfflineStore(spark, str(tmp_path / "offline"))
    offline.append(_batch(spark, 1))
    # nullability is not part of the check
    offline.append(
        _batch(spark, 2).withColumn("aqi", F.coalesce("aqi", F.lit(0.0)))
    )
    files = fs.list_data_files(spark, offline.path)
    with pytest.raises(ValueError, match=r"\b(note|hour) \("):
        offline.append(change(_batch(spark, 3)))
    assert fs.list_data_files(spark, offline.path) == files
    assert offline.read().count() == 4
