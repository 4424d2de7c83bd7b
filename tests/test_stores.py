"""Offline store (partitioned append, dedup gate, watermark incremental),
registry, and streaming jobs."""

from __future__ import annotations

from datetime import date, datetime, timedelta

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.registry import FeatureView, Registry
from aqi_featurestore_spark.sources.offline_store import OfflineStore, Watermark
from aqi_featurestore_spark.streaming.jobs import (
    run_online_refresh_stream,
    windowed_aqi_aggregate,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id string, feature_timestamp timestamp, aqi double"
    )


def test_offline_store_append_dedup_and_incremental_read(spark, tmp_path):
    store = OfflineStore(spark, str(tmp_path / "offline"))
    b1 = _batch(
        spark,
        [
            ("a", ts("2024-01-01 10:00:00"), 1.0),
            ("a", ts("2024-01-05 10:00:00"), 2.0),
            ("b", ts("2024-01-05 11:00:00"), 3.0),
        ],
    )
    store.append(b1)
    assert store.read().count() == 3

    # re-run the same batch -> idempotent (ST6 fix)
    store.append(b1)
    assert store.read().count() == 3

    # overlapping batch: 1 duplicate + 1 new row -> only the new row lands
    b2 = _batch(
        spark,
        [
            ("a", ts("2024-01-05 10:00:00"), 2.0),
            ("c", ts("2024-01-07 09:00:00"), 4.0),
        ],
    )
    store.append(b2)
    assert store.read().count() == 4

    # partition-pruned incremental read
    inc = store.read(since=date(2024, 1, 5))
    assert inc.count() == 3
    # partition pruning visible in the physical plan
    plan = inc.explain if False else inc._jdf.queryExecution().executedPlan().toString()
    assert "year" in plan

    # partition layout on disk is Hive-style
    assert (tmp_path / "offline" / "year=2024" / "month=1" / "day=5").exists()


def test_offline_store_as_of_time_travel(spark, tmp_path):
    """Round-8 verdict ask #4: every append records a snapshot manifest;
    read(as_of=v) replays the store AT that version bit-identically
    after later appends; compact/retire advance the retention floor and
    below-floor pins RAISE (the E199 contract) instead of resolving
    wrong."""
    import pytest

    store = OfflineStore(spark, str(tmp_path / "offline"))
    b1 = _batch(
        spark,
        [
            ("a", ts("2024-01-01 10:00:00"), 1.0),
            ("b", ts("2024-01-05 11:00:00"), 3.0),
        ],
    )
    store.append(b1)
    assert store.version() == 1
    archived = sorted(tuple(r) for r in store.read().collect())

    b2 = _batch(spark, [("c", ts("2024-01-07 09:00:00"), 4.0)])
    store.append(b2)
    assert store.version() == 2
    # v1 replays bit-identically after the append (incl. partition cols)
    v1 = store.read(as_of=1)
    assert sorted(tuple(r) for r in v1.collect()) == archived
    assert {"year", "month", "day"} <= set(v1.columns)
    assert store.read(as_of=2).count() == 3
    # `since` composes with as_of
    assert store.read(since=date(2024, 1, 5), as_of=1).count() == 1
    with pytest.raises(ValueError, match="no manifest"):
        store.read(as_of=7)

    # compaction rewrites files -> floor advances to the new version;
    # the current state stays replayable, pre-compaction pins raise
    store.compact()
    v_now = store.version()
    assert store.retention_floor() == v_now
    assert store.read(as_of=v_now).count() == 3
    with pytest.raises(ValueError, match="retention floor"):
        store.read(as_of=1)

    # retire drops partitions -> same floor discipline
    store.append(_batch(spark, [("d", ts("2024-02-01 08:00:00"), 5.0)]))
    mid = store.version()
    assert store.read(as_of=mid).count() == 4
    store.retire(before=date(2024, 1, 6))
    assert store.retention_floor() == store.version()
    assert store.read(as_of=store.version()).count() == 2
    with pytest.raises(ValueError, match="retention floor"):
        store.read(as_of=mid)


def test_watermark_protocol(tmp_path):
    wm = Watermark(str(tmp_path / "wm.json"), default="2023-01-01")
    assert wm.read() == "2023-01-01"
    wm.advance("2024-01-06")
    assert wm.read() == "2024-01-06"


def test_registry_views_and_gated_lineage(spark, tmp_path):
    reg = Registry(spark, str(tmp_path / "registry"))
    v1 = FeatureView(
        name="aqi_info_v1",
        entities=("entity_id",),
        ttl=timedelta(days=7),
        features=(("hour", "int"), ("day", "int"), ("dayOfWeek", "int"), ("aqi", "double")),
        source="offline/aqi",
        tags=(("owner", "ml_team"),),
    )
    reg.apply(v1)
    assert [v.name for v in reg.list_feature_views()] == ["aqi_info_v1"]
    assert reg.feature_views_df().first()["ttl_seconds"] == 7 * 86400

    assert reg.record_lineage("pm2_5", "v1", "openweather", "pipeline.py", "2024-01-01") == 1
    # duplicate (feature_name, version) -> gated out
    assert reg.record_lineage("pm2_5", "v1", "other", "x.py", "2024-02-02") == 0
    assert reg.record_lineage("pm2_5", "v2", "openweather", "pipeline.py", "2024-01-02") == 1
    assert reg.lineage().count() == 2

    assert reg.record_feature_metadata("aqi", "v1", "piecewise(pm2_5)", "EPA AQI", "2024") == 1
    assert reg.feature_metadata().count() == 1


def test_lineage_gate_on_a_file_uri_root(spark, tmp_path, monkeypatch):
    # a file:// root must find the views and the lineage already on
    # disk, as a plain path does in test_registry_views_and_gated_lineage
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = (tmp_path / "registry").as_uri()
    view = FeatureView(
        name="aqi_info_v1",
        entities=("entity_id",),
        ttl=timedelta(days=7),
        features=(("aqi", "double"),),
        source="offline/aqi",
    )
    Registry(spark, root).apply(view)
    assert Registry(spark, root).list_feature_views() == [view]
    # the catalog lands under the root, not in a relative `file:` dir
    assert (tmp_path / "registry" / "feature_views.json").exists()
    assert list(cwd.iterdir()) == []
    reg = Registry(spark, root)
    assert reg.record_lineage("pm2_5", "v1", "openweather", "pipeline.py", "2024-01-01") == 1
    assert reg.record_lineage("pm2_5", "v1", "other", "x.py", "2024-02-02") == 0
    assert reg.record_lineage("pm2_5", "v2", "openweather", "pipeline.py", "2024-01-02") == 1
    assert reg.lineage().count() == 2
    assert reg.record_feature_metadata("aqi", "v1", "piecewise(pm2_5)", "EPA AQI", "2024") == 1
    assert reg.record_feature_metadata("aqi", "v1", "again", "dup", "2025") == 0


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_online_refresh_stream(spark, tmp_path, as_uri):
    src = tmp_path / "stream_src"
    src.mkdir()
    rows1 = [
        (1, ts("2024-01-01 10:00:00"), 7, "view", 10.0, None),
        (2, ts("2024-01-01 11:00:00"), 7, "view", 40.0, None),
        (3, ts("2024-01-01 10:30:00"), 8, "view", 100.0, None),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(str(src))

    # a file:// URI must probe the existing snapshot like a plain path
    snap_path = str(tmp_path / "online_snapshot")
    if as_uri:
        snap_path = (tmp_path / "online_snapshot").as_uri()
    ckpt = str(tmp_path / "ckpt")
    run_online_refresh_stream(spark, str(src), spark.createDataFrame([], schema).schema,
                              snap_path, ckpt)
    snap = {r["entity_id"]: r["aqi"] for r in spark.read.parquet(snap_path).collect()}
    assert snap["7"] == 112.08040201005025  # value 40.0 -> third breakpoint
    assert snap["8"] == 173.9768177028451  # value 100.0 -> fourth breakpoint

    # second micro-batch: newer row for entity 7 wins; checkpoint means
    # files from batch 1 are not reprocessed
    rows2 = [(4, ts("2024-01-01 12:00:00"), 7, "view", 10.0, None)]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(str(src))
    run_online_refresh_stream(spark, str(src), spark.createDataFrame([], schema).schema,
                              snap_path, ckpt)
    snap = {r["entity_id"]: r["aqi"] for r in spark.read.parquet(snap_path).collect()}
    assert snap["7"] == 41.66666666666667
    assert snap["8"] == 173.9768177028451


def test_windowed_aggregate_batch_semantics(spark):
    rows = [
        (1, ts("2024-01-01 10:05:00"), 7, "view", 10.0, None),
        (2, ts("2024-01-01 10:55:00"), 7, "view", 30.0, None),
        (3, ts("2024-01-01 11:05:00"), 7, "view", 50.0, None),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    out = windowed_aqi_aggregate(spark.createDataFrame(rows, schema))
    got = {r["window_start"].isoformat(): (r["n_obs"], r["avg_value"]) for r in out.collect()}
    assert got["2024-01-01T10:00:00"] == (2, 20.0)
    assert got["2024-01-01T11:00:00"] == (1, 50.0)


def test_windowed_aggregate_streaming_with_watermark(spark, tmp_path):
    src = tmp_path / "wsrc"
    src.mkdir()
    schema_str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    rows = [
        (1, ts("2024-01-01 10:05:00"), 7, "view", 10.0, None),
        (1, ts("2024-01-01 10:05:00"), 7, "view", 10.0, None),  # duplicate delivery
        (2, ts("2024-01-01 10:45:00"), 7, "view", 30.0, None),
    ]
    spark.createDataFrame(rows, schema_str).write.mode("append").parquet(str(src))

    from aqi_featurestore_spark.streaming.jobs import stream_events

    stream = stream_events(
        spark, str(src), spark.createDataFrame([], schema_str).schema,
        watermark="10 minutes", dedup_keys=["event_id"],
    )
    agg = windowed_aqi_aggregate(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["window_start"].isoformat(): r["n_obs"] for r in spark.sql("SELECT * FROM win_out").collect()}
    assert got == {"2024-01-01T10:00:00": 2}  # dup dropped, both events in window


def test_alert_stream_threshold(spark, tmp_path):
    """ST5: the packaged alert job emits exactly the above-threshold rows,
    incrementally across reruns (checkpoint), with severity labels."""
    from aqi_featurestore_spark.streaming.jobs import run_alert_stream

    src = tmp_path / "alert_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    rows1 = [
        (1, ts("2024-01-01 10:00:00"), 7, "view", 10.0, None),   # aqi ~41.7, below
        (2, ts("2024-01-01 11:00:00"), 7, "view", 40.0, None),   # aqi ~112.1, alert
        (3, ts("2024-01-01 10:30:00"), 8, "view", 100.0, None),  # aqi ~174.0, alert
    ]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(str(src))
    alert_path, ckpt = str(tmp_path / "alerts"), str(tmp_path / "alert_ckpt")
    run_alert_stream(spark, str(src), spark.createDataFrame([], schema).schema,
                     alert_path, ckpt, threshold=100.0)
    alerts = {r["event_id"]: r for r in spark.read.parquet(alert_path).collect()}
    assert set(alerts) == {2, 3}
    assert alerts[2]["level"] == "unhealthy_sensitive"
    assert alerts[3]["level"] == "unhealthy"

    # incremental rerun: only the new above-threshold row is appended
    rows2 = [(4, ts("2024-01-01 12:00:00"), 8, "view", 120.0, None)]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(str(src))
    run_alert_stream(spark, str(src), spark.createDataFrame([], schema).schema,
                     alert_path, ckpt, threshold=100.0)
    alerts = spark.read.parquet(alert_path).collect()
    assert sorted(r["event_id"] for r in alerts) == [2, 3, 4]


def test_compact_merges_small_files(spark, tmp_path):
    store = OfflineStore(spark, str(tmp_path / "compactable"))
    # 12 appends x 2 dates -> many small files across 2 partitions
    for i in range(12):
        store.append(
            _batch(
                spark,
                [
                    (f"e{i}", ts("2024-02-01 10:00:00") + timedelta(minutes=i), float(i)),
                    (f"e{i}", ts("2024-02-02 10:00:00") + timedelta(minutes=i), float(i)),
                ],
            )
        )
    before = store.read().orderBy("entity_id", "feature_timestamp").collect()
    stats = store.compact()  # default target >> data size -> 1 file/partition
    assert stats["files_before"] >= 24
    assert stats["files_after"] == 2
    after = store.read().orderBy("entity_id", "feature_timestamp").collect()
    assert [sorted(r.asDict().items()) for r in after] == [
        sorted(r.asDict().items()) for r in before
    ]
    # partition pruning still works post-compaction
    assert store.read(since=date(2024, 2, 2)).count() == 12
    # appends keep working against the rewritten layout
    store.append(_batch(spark, [("z", ts("2024-02-02 23:00:00"), 9.0)]))
    assert store.read().count() == 25


def test_compact_splits_by_target_bytes(spark, tmp_path):
    store = OfflineStore(spark, str(tmp_path / "split"))
    rows = [
        (f"e{i}", ts("2024-03-01 00:00:00") + timedelta(seconds=i), float(i))
        for i in range(2000)
    ]
    store.append(_batch(spark, rows))
    stats = store.compact(target_file_bytes=8 << 10)  # 8 KB -> several files
    assert stats["files_after"] > 1
    assert store.read().count() == 2000


def test_missing_partitions_backfill_planner(spark, tmp_path):
    from datetime import date

    from aqi_featurestore_spark.sources.offline_store import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "gap_store"))
    rows = [
        ("a", 1.0, "2024-01-01 01:00:00"),
        ("a", 2.0, "2024-01-02 01:00:00"),
        # 2024-01-03 and 04 missing
        ("b", 3.0, "2024-01-05 01:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "entity_id string, aqi double, feature_timestamp string"
    ).withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))
    store.append(df)

    assert store.missing_partitions() == [date(2024, 1, 3), date(2024, 1, 4)]
    # explicit wider range includes the edges outside stored history
    assert store.missing_partitions(
        start=date(2023, 12, 31), end=date(2024, 1, 6)
    ) == [
        date(2023, 12, 31),
        date(2024, 1, 3),
        date(2024, 1, 4),
        date(2024, 1, 6),
    ]
    # a complete store reports no gaps
    fill = spark.createDataFrame(
        [("c", 4.0, "2024-01-03 01:00:00"), ("c", 5.0, "2024-01-04 01:00:00")],
        "entity_id string, aqi double, feature_timestamp string",
    ).withColumn("feature_timestamp", F.to_timestamp("feature_timestamp"))
    store.append(fill)
    assert store.missing_partitions() == []


def test_retire_drops_old_partitions_metadata_only(spark, tmp_path):
    """Partition-level retention: partitions strictly before the cutoff
    disappear (directory deletes, no rewrite), newer data is untouched
    byte-for-byte, dry_run only plans, and an age-out that would empty
    the store refuses."""
    import pytest

    store = OfflineStore(spark, str(tmp_path / "retire_store"))
    store.append(
        _batch(
            spark,
            [
                ("a", ts("2024-01-01 10:00:00"), 1.0),
                ("b", ts("2024-01-05 10:00:00"), 2.0),
                ("c", ts("2024-01-09 10:00:00"), 3.0),
            ],
        )
    )
    keep_rows = sorted(
        tuple(r)
        for r in store.read()
        .where(F.col("feature_timestamp") >= ts("2024-01-05 00:00:00"))
        .collect()
    )
    plan = store.retire(before=date(2024, 1, 5), dry_run=True)
    assert plan["dropped"] == ["2024-01-01"] and plan["files_dropped"] >= 1
    assert store.read().count() == 3  # dry run deleted nothing
    got = store.retire(before=date(2024, 1, 5))
    assert got["dropped"] == ["2024-01-01"] and got["kept"] == 2
    assert sorted(tuple(r) for r in store.read().collect()) == keep_rows
    with pytest.raises(ValueError, match="would drop ALL"):
        store.retire(before=date(2030, 1, 1))
