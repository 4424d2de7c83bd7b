"""SparkSession factory with scale-oriented defaults.

The reference creates its session ad-hoc with GCS/BigQuery connector jars
(reference: spark/code/write_to_bigquery.py:22-29). Here the session is the
one tuning point for the whole engine; defaults are chosen so the same code
runs on local[N] for tests and on a large cluster unchanged:

- AQE on (runtime join-strategy selection, skew-join splitting, partition
  coalescing) so plans adapt when data is 1000x bigger.
- ``spark.sql.session.timeZone=UTC`` pinned — the reference mixes naive-UTC
  offline timestamps with Asia/Ho_Chi_Minh online timestamps (SURVEY.md §7
  hard part 3); we make UTC canonical and convert explicitly at boundaries.
- Arrow enabled for the few Pandas-UDF code paths (similarity search,
  multimodal decode) — vectorized transfer instead of row pickling.
- shuffle partitions default to cluster parallelism (overridable via env).
- ``spark.python.daemon.module`` names ``worker_daemon``, which is
  pyspark's worker daemon except that each worker reads the directory of
  ``pyspark.zip`` and the py4j zip once. Plain pyspark re-reads them 16
  times per task on CPython 3.11, and every Python task pays that: the
  MapInArrow and Arrow-udf scans, every ``createDataFrame(list)`` and a
  caller's request frames. A 64-row ``createDataFrame(list)`` plus collect
  fell from about 1.0 s to 0.1 s of worker CPU (``scripts/cpu_split.py``).
  No plan changes. Spark starts the daemon as ``python -m``, before any
  of the session's py-files reach the worker, so
  ``spark.executorEnv.PYTHONPATH`` carries the directory holding the
  package: local workers find it whatever the driver's working
  directory. On a cluster the package must be installed on the
  executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "aqi_featurestore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's canonical config.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally defaults to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "aqi_featurestore_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Default 4 MiB open-cost quantizes small files into few splits; a
        # 12 MiB single-file table would scan on 3 cores out of 32. 256 KiB
        # keeps small-table scans parallel and is irrelevant for TB-scale
        # files (split size there is governed by maxPartitionBytes).
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
