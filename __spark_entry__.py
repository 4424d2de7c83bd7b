"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship training-set query (raw events ->
feature derivation -> point-in-time join -> lag features) at sf0.001.
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB-equivalent SQL; see
``aqi_featurestore_spark/plans/__init__.py`` for the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aqi_featurestore_spark.pipeline import training_set
from aqi_featurestore_spark.plans import ORACLE_SQL, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return training_set(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys missing here get the weaker
    rows-only check (reserved for non-SQL-expressible operators)."""
    return dict(ORACLE_SQL)
