"""aqi_featurestore_spark — a PySpark-native feature-store analytics engine.

A from-scratch rebuild of the query & data-processing capabilities of the
public ``hungbuile04/aqi_featurestore`` reference (surveyed in SURVEY.md),
expressed as idiomatic Spark DataFrame / SQL / Structured Streaming code:

- typed partitioned ingest (JSON -> Hive-partitioned Parquet)
- feature derivation as native Catalyst expressions (no Python UDFs in the
  hot path): time components, entity keying, piecewise-linear AQI
- append-only offline store with dedup gate + watermark incremental protocol
- point-in-time (as-of) join with TTL for leakage-free training sets
- latest-per-key online snapshot with upsert / lookup serving semantics
- lag-feature windowing, feature-view / lineage registry
- LLM-data-pipeline extensions: exact & approximate dedup (MinHash-LSH,
  SimHash, n-gram Jaccard), embedding similarity search, text analysis

Everything is library code over public Spark APIs; Catalyst does the
optimization (partition pruning, pushdown, AQE join selection).
"""

__version__ = "0.1.0"

__all__ = ["FeatureStore", "FeatureView", "get_spark", "__version__"]


def __getattr__(name: str):
    # Lazy: store/registry pull in operator modules and the session pulls
    # in pyspark; keep bare package import light for tooling and for the
    # worker daemon, which must run before pyspark is imported.
    if name == "get_spark":
        from aqi_featurestore_spark.session import get_spark

        return get_spark
    if name == "FeatureStore":
        from aqi_featurestore_spark.store import FeatureStore

        return FeatureStore
    if name == "FeatureView":
        from aqi_featurestore_spark.registry import FeatureView

        return FeatureView
    raise AttributeError(name)
