"""FeatureStore facade — the reference's user-facing API in one object.

A user of the reference touches exactly five calls (SURVEY.md §2.1
S13–S15, S17 and §3.2/§3.3):

- ``store.apply(view)``                       (feast registry apply)
- ``store.get_historical_features(...)``      (model/aqi_predict_hn.py:25-33)
- ``store.write_to_online_store(view, df)``   (airflow/dags/redis_data.py:93)
- ``store.get_online_features(view, rows)``   (agent/aqi-agent/app/agent.py:73-76)
- ``store.list_feature_views()``              (feast/check_metadata.py:6-15)

plus ``materialize`` (feast's offline→online backfill, which the reference
drives implicitly through its Redis refresh DAG). This facade wires those
onto the engine's operators: offline history in the Hive-partitioned
``OfflineStore``, online state as a latest-per-key snapshot parquet, PIT
joins for history, broadcast lookups for serving. Everything stays a
DataFrame until the caller materializes: every store write records the
schema of what it wrote (``_schema.json`` in the data directory, see
``sources/fs``), and every read passes it to ``spark.read.schema``, so
building a lookup, an offline or ``as_of`` read or a historical pull
runs no Spark job.
"""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aqi_featurestore_spark.operators.pit_join import point_in_time_join
from aqi_featurestore_spark.operators.snapshot import (
    latest_per_key,
    online_lookup,
    upsert_snapshot,
)
from aqi_featurestore_spark.registry import FeatureView, Registry
from aqi_featurestore_spark.sources import fs
from aqi_featurestore_spark.sources.offline_store import OfflineStore


def _online_columns(view: FeatureView, df: DataFrame) -> DataFrame:
    """``df`` cut to what the online snapshot holds: the view's entity
    keys, timestamp and declared features, in that order. Both snapshot
    writers go through it, so an upsert after ``materialize`` unions equal
    columns and never serves a column the view does not declare."""
    keep = [*view.entities, view.timestamp_field, *[n for n, _ in view.features]]
    return df.select(*[c for c in keep if c in df.columns])


class FeatureStore:
    """Dual-store feature platform over one repo path.

    Layout: ``{path}/offline/{view}`` (partitioned history),
    ``{path}/online/{view}`` (latest-per-key snapshot),
    ``{path}/registry`` (feature-view / lineage catalogs).
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.registry = Registry(spark, os.path.join(path, "registry"))

    # -- registry ----------------------------------------------------------

    def apply(self, view: FeatureView) -> None:
        self.registry.apply(view)

    def list_feature_views(self) -> list[FeatureView]:
        return self.registry.list_feature_views()

    # -- offline -----------------------------------------------------------

    def _offline(self, view: FeatureView) -> OfflineStore:
        return OfflineStore(
            self.spark,
            os.path.join(self.path, "offline", view.name),
            keys=list(view.entities),
            ts=view.timestamp_field,
        )

    def write_offline(self, view_name: str, batch: DataFrame) -> None:
        """Append feature rows to a view's history (idempotent re-runs via
        the anti-join dedup gate)."""
        self._offline(self.registry.get_feature_view(view_name)).append(batch)

    def read_offline(
        self, view_name: str, *, as_of: int | None = None
    ) -> DataFrame:
        return self._offline(self.registry.get_feature_view(view_name)).read(
            as_of=as_of
        )

    def get_historical_features(
        self,
        entity_df: DataFrame,
        features: list[str],
        *,
        event_ts: str = "event_timestamp",
        tie_break: list[str] | None = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """Point-in-time correct training frame (S14/J1).

        ``features`` use feast's ``"view:feature"`` syntax; all named
        views join against the same spine with their own TTLs. Output
        columns keep the bare feature names (first view wins a collision,
        matching feast's error-free subset use in the reference).

        ``as_of`` pins every view's offline history to a recorded STORE
        version (OfflineStore.read time travel): the training set built
        against last week's store reproduces bit-identically after later
        appends — PIT-over-feature-time guards against event-time
        leakage, as_of guards against store-state drift; reproducibility
        needs both."""
        by_view: dict[str, list[str]] = {}
        for ref in features:
            view_name, feat = ref.split(":", 1)
            by_view.setdefault(view_name, []).append(feat)
        out = entity_df
        for view_name, cols in by_view.items():
            view = self.registry.get_feature_view(view_name)
            hist = self.read_offline(view_name, as_of=as_of)
            joined = point_in_time_join(
                out,
                hist,
                list(view.entities),
                event_ts=event_ts,
                feature_ts=view.timestamp_field,
                ttl=view.ttl,
                feature_cols=[c for c in cols if c not in out.columns],
                tie_break=tie_break,
            )
            # feast's to_df() does not expose the matched feature_timestamp
            out = joined.drop(view.timestamp_field)
        return out

    # -- online ------------------------------------------------------------

    def _online_path(self, view_name: str) -> str:
        return os.path.join(self.path, "online", view_name)

    def write_to_online_store(self, view_name: str, df: DataFrame) -> None:
        """S13: upsert rows into the view's latest-per-key snapshot (new
        rows win per entity key — Redis hash overwrite semantics)."""
        view = self.registry.get_feature_view(view_name)
        keys = list(view.entities)
        updates = latest_per_key(
            _online_columns(view, df), keys, ts=view.timestamp_field
        )
        p = self._online_path(view_name)
        fs.restore_swap(self.spark, p)
        current = fs.read_dir(self.spark, p)
        if current is None:
            merged = updates
        else:
            merged = upsert_snapshot(
                _online_columns(view, current), updates, keys, ts=view.timestamp_field
            )
        # the merged plan reads `p`: replace_dir writes it elsewhere first
        fs.replace_dir(self.spark, p, merged)

    def materialize(self, view_name: str) -> None:
        """Feast ``materialize``: rebuild the online snapshot from offline
        history (latest row per entity)."""
        view = self.registry.get_feature_view(view_name)
        snap = latest_per_key(
            self.read_offline(view_name), list(view.entities), ts=view.timestamp_field
        )
        fs.replace_dir(
            self.spark, self._online_path(view_name), _online_columns(view, snap)
        )

    def get_online_features(
        self,
        view_name: str,
        entity_rows: DataFrame,
        *,
        as_of: Column | None = None,
    ) -> DataFrame:
        """S15/J2: serve current features for entity keys; unknown keys
        yield NULLs, rows staler than the view TTL are masked."""
        view = self.registry.get_feature_view(view_name)
        snapshot = fs.read_dir(self.spark, self._online_path(view_name))
        if snapshot is None:
            cols = ", ".join(
                [
                    *[f"`{k}` string" for k in view.entities],
                    f"`{view.timestamp_field}` timestamp",
                    *[f"`{n}` {t}" for n, t in view.features],
                ]
            )
            snapshot = self.spark.createDataFrame([], cols)
        return online_lookup(
            entity_rows,
            snapshot,
            list(view.entities),
            ts=view.timestamp_field,
            ttl=view.ttl,
            as_of=as_of,
        )
