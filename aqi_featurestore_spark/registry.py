"""Feature-view / lineage / metadata registry (S8, S9, S17, P6).

The reference keeps three catalogs: Feast's registry.db of feature views
(feast/features/aqi_feature.py:17-45, listed by feast/check_metadata.py),
a BigQuery ``lineage`` table (spark/code/write_to_bigquery.py:131-167)
gated on (feature_name, version) non-existence (airflow/dags/load.py:71-102),
and a ``feature_metadata`` table (write_to_bigquery.py:169-215).

Here the registry is a directory of tiny Parquet tables + a typed
FeatureView descriptor. Catalog tables are driver-small; all writes go
through the anti-join dedup gate so re-registration is idempotent.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession

from aqi_featurestore_spark import schemas
from aqi_featurestore_spark.operators.dedup import append_if_absent
from aqi_featurestore_spark.sources import fs


@dataclass(frozen=True)
class FeatureView:
    """Versioned logical feature table (mirrors feast FeatureView fields
    the reference actually uses: name, entity join key, ttl, schema,
    source, tags)."""

    name: str
    entities: tuple[str, ...]
    ttl: timedelta
    features: tuple[tuple[str, str], ...]  # (name, spark dtype)
    source: str
    timestamp_field: str = "feature_timestamp"
    tags: tuple[tuple[str, str], ...] = field(default=())


class Registry:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._views: dict[str, FeatureView] = {}
        self._load_views()

    # -- feature views (persisted JSON catalog, like feast's registry.db) --

    def _views_path(self) -> str:
        return os.path.join(self.path, "feature_views.json")

    def _load_views(self) -> None:
        import json

        p = self._views_path()
        if not fs.exists(self.spark, p):
            return
        for v in json.loads(fs.read_text(self.spark, p)):
            view = FeatureView(
                name=v["name"],
                entities=tuple(v["entities"]),
                ttl=timedelta(seconds=v["ttl_seconds"]),
                features=tuple((n, t) for n, t in v["features"]),
                source=v["source"],
                timestamp_field=v["timestamp_field"],
                tags=tuple((k, t) for k, t in v["tags"]),
            )
            self._views[view.name] = view

    def _save_views(self) -> None:
        import json

        payload = [
            {
                "name": v.name,
                "entities": list(v.entities),
                "ttl_seconds": int(v.ttl.total_seconds()),
                "features": [list(f) for f in v.features],
                "source": v.source,
                "timestamp_field": v.timestamp_field,
                "tags": [list(t) for t in v.tags],
            }
            for v in self._views.values()
        ]
        # tmp + rename through the Hadoop FS: crash-safe on every scheme
        fs.write_text_atomic(
            self.spark, self._views_path(), json.dumps(payload, indent=1)
        )

    def apply(self, view: FeatureView) -> None:
        """Register (or re-register) a view; persisted immediately so a new
        process sees it (the reference's registry.db semantics)."""
        self._views[view.name] = view
        self._save_views()

    def list_feature_views(self) -> list[FeatureView]:
        """S17: name/schema/entities/ttl/source listing."""
        return list(self._views.values())

    def get_feature_view(self, name: str) -> FeatureView:
        return self._views[name]

    def feature_views_df(self) -> DataFrame:
        rows = [
            (
                v.name,
                list(v.entities),
                int(v.ttl.total_seconds()),
                [f"{n}:{t}" for n, t in v.features],
                v.source,
                v.timestamp_field,
                dict(v.tags),
            )
            for v in self._views.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "name string, entities array<string>, ttl_seconds long, "
            "features array<string>, source string, timestamp_field string, "
            "tags map<string,string>",
        )

    # -- lineage / metadata tables (P6-gated appends) ----------------------

    def _table_path(self, table: str) -> str:
        return os.path.join(self.path, table)

    def _read_table(self, table: str, schema) -> DataFrame:
        df = fs.read_dir(self.spark, self._table_path(table))
        return self.spark.createDataFrame([], schema) if df is None else df

    def _gated_append(self, table: str, schema, rows: list, keys: list[str]) -> int:
        new = self.spark.createDataFrame(rows, schema)
        existing = self._read_table(table, schema)
        to_add = append_if_absent(new, existing, keys)
        # Eager count() is fine HERE: registry tables are catalog-sized
        # (rows = feature definitions, not data), and the caller needs the
        # inserted-row count as its return contract. Data-path operators
        # must never do this — see near_dedup.ngram_jaccard_pairs's
        # hint-based strategy choice for the pattern at scale.
        n = to_add.count()
        if n:
            fs.append(self.spark, self._table_path(table), to_add)
        return n

    def record_lineage(
        self, feature_name: str, version: str, source: str, transformation_file: str,
        timestamp: str,
    ) -> int:
        """Insert gated on (feature_name, version) non-existence — the
        reference's COUNT(*) probe (load.py:71-81) as one anti-join.
        Returns number of rows actually inserted (0 if already present)."""
        return self._gated_append(
            "lineage",
            schemas.LINEAGE,
            [(feature_name, version, source, transformation_file, timestamp)],
            ["feature_name", "version"],
        )

    def record_feature_metadata(
        self, feature_name: str, version: str, formula: str, description: str,
        created_at: str,
    ) -> int:
        return self._gated_append(
            "feature_metadata",
            schemas.FEATURE_METADATA,
            [(feature_name, version, formula, description, created_at)],
            ["feature_name", "version"],
        )

    def lineage(self) -> DataFrame:
        return self._read_table("lineage", schemas.LINEAGE)

    def feature_metadata(self) -> DataFrame:
        return self._read_table("feature_metadata", schemas.FEATURE_METADATA)
