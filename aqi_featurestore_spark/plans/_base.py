"""Query registry: every operator from SURVEY.md §2 as (a) a Spark
DataFrame plan and (b) an equivalent ANSI-SQL string for the DuckDB oracle.

Contract (driver, __spark_entry__.py): each callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle SQL runs on the
same parquet registered as views. Column names and types are aliased
identically on both sides; cross-engine float determinism is handled by
(1) identical IEEE operation order for scalar math, (2) exact DECIMAL
accumulation cast to DOUBLE for sums of products, (3) rank-before-round
for similarity scores.

Semantics pinned here (SURVEY.md §7 hard parts):
- dayOfWeek = Spark ``dayofweek`` (1=Sunday); DuckDB oracle compensates
  with ``dayofweek(ts)+1`` (DuckDB is 0=Sunday).
- session timezone UTC; DuckDB timestamps are naive-UTC natively.
- AQI default variant 8.5 (the offline Spark job's,
  reference spark/code/write_to_bigquery.py:105).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from aqi_featurestore_spark.functions import portable_hash as _ph
from aqi_featurestore_spark.functions.aqi import aqi_case_sql
from aqi_featurestore_spark.operators.near_dedup import ngram_jaccard_pairs

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}
T = TypeVar("T")


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco

from aqi_featurestore_spark.sources.testdata import read_table as _read_table


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _read_table(spark, sf_dir, name)


def ngram_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, group_id) for every document in the k=3/0.2 n-gram
    Jaccard near-dup graph — localCheckpoint-backed, shared by
    dedup_resolve_docs, dedup_cluster_sizes and dedup_keep_best."""
    from aqi_featurestore_spark.operators.dedup_groups import (
        connected_components,
    )

    def build():
        d = _read(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(d, k=3, threshold=0.2, broadcast=True)
        return connected_components(pairs.select("d1", "d2"))

    return session_artifact(spark, "ngram_cc", sf_dir, build)


def corpus_fingerprint(spark: SparkSession, sf_dir: str) -> str:
    """Cheap content snapshot of a corpus directory: md5 over the
    sorted (path, size, mtime) data-file listing — driver-side metadata
    RPCs only, never row data. A changed file set, size, or mtime gives
    a new fingerprint; an unchanged corpus keeps its fingerprint."""
    import hashlib

    from aqi_featurestore_spark.sources import fs

    h = hashlib.md5()
    for p, sz, mt in sorted(fs.list_file_stats(spark, sf_dir)):
        h.update(f"{p}|{sz}|{mt}\n".encode())
    return h.hexdigest()[:16]


_ARTIFACTS: dict[tuple, object] = {}
_ARTIFACT_LOCKS: dict[tuple, threading.Lock] = {}
_ARTIFACT_LOCKS_GUARD = threading.Lock()


def session_artifact(
    spark: SparkSession, kind: str, sf_dir: str, build: Callable[[], T], *extra
) -> T:
    """``build()``'s result, built once per Spark application and corpus
    content and shared by every later caller.

    The registry queries of one family share deterministic work: k-means
    and PQ fits, the model trajectory, the persisted ANN / impact / model
    stores, checkpointed audit legs. Results are bit-identical to a
    per-query rebuild (each oracle re-derives them from the raw corpus),
    so sharing changes only how often the work is paid.

    The key is (applicationId, absolute ``sf_dir``,
    :func:`corpus_fingerprint`, ``kind``, ``*extra``). The fingerprint
    makes a corpus rewritten in place a miss instead of a stale hit; a
    hit lists the corpus once and runs no Spark job.

    Each key has its own lock, held across the build, so concurrent
    callers on one key build once. A build may ask for an artifact on
    another key (the ANN store builds over the serving fits) without
    deadlock. A build that raises caches nothing; the next call retries.
    """
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        corpus_fingerprint(spark, sf_dir),
        kind,
        *extra,
    )
    with _ARTIFACT_LOCKS_GUARD:
        lock = _ARTIFACT_LOCKS.setdefault(key, threading.Lock())
    with lock:
        if key not in _ARTIFACTS:
            _ARTIFACTS[key] = build()
        return _ARTIFACTS[key]


def session_dir(prefix: str) -> str:
    """A fresh temp directory, removed when the interpreter exits (the
    stores in it are rebuildable caches, never the source of truth)."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


# ---------------------------------------------------------------------------
# Shared SQL fragments (oracle side). The feature CTE mirrors
# pipeline.derive_features column-for-column; the spine CTE mirrors
# pipeline.build_spine.
# ---------------------------------------------------------------------------

_FEAT_CTE = f"""
feat AS (
  SELECT CAST(user_id AS VARCHAR)            AS entity_id,
         ts                                  AS feature_timestamp,
         CAST(floor(epoch(ts)) AS BIGINT)    AS dt,
         "value"                             AS "value",
         {aqi_case_sql('"value"', default=8.5)} AS aqi,
         CAST(hour(ts) AS INT)               AS hour,
         CAST(day(ts) AS INT)                AS day,
         CAST(dayofweek(ts) + 1 AS INT)      AS "dayOfWeek",
         event_id
  FROM events
)"""

_SPINE_CTE = """
spine AS (
  SELECT CAST(user_id AS VARCHAR) AS entity_id,
         ts + INTERVAL '30 minutes' AS event_timestamp
  FROM events
  WHERE event_id % 7 = 0
)"""

_PIT_CTES = f"""
WITH {_FEAT_CTE},
{_SPINE_CTE},
cand AS (
  SELECT s.entity_id, s.event_timestamp,
         f.aqi, f.hour, f.day, f."dayOfWeek", f.feature_timestamp,
         row_number() OVER (
           PARTITION BY s.entity_id, s.event_timestamp
           ORDER BY f.feature_timestamp DESC, f.event_id DESC) AS rn
  FROM (SELECT DISTINCT entity_id, event_timestamp FROM spine) s
  JOIN feat f
    ON s.entity_id = f.entity_id
   AND f.feature_timestamp <= s.event_timestamp
   AND f.feature_timestamp >= s.event_timestamp - INTERVAL '7 days'
),
pit AS (
  SELECT sp.entity_id, sp.event_timestamp,
         c.aqi, c.hour, c.day, c."dayOfWeek", c.feature_timestamp
  FROM spine sp
  LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
    ON sp.entity_id = c.entity_id AND sp.event_timestamp = c.event_timestamp
)"""


# ---------------------------------------------------------------------------
# Feature-store parity queries (SURVEY.md §2)
# ---------------------------------------------------------------------------


_NGRAM_JACCARD_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM tok),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2, inter, n1.n AS n1, n2.n AS n2,
       CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) AS jaccard
FROM inter
JOIN sizes n1 ON d1 = n1.doc_id
JOIN sizes n2 ON d2 = n2.doc_id
WHERE CAST(inter AS DOUBLE) / (n1.n + n2.n - inter) >= 0.2"""


# Unit-normalize once per vector (mirrors operators.clustering.normalized_jvm:
# cast-to-double, fold of squares from 0.0, sqrt, element divide — same IEEE
# op order as the Spark side so cos_sim agrees bit-for-bit). Zero-norm rows
# are left out, as every Spark scan leaves them out.
_SIM_NORM_CTE = f"""
norm AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_reduce(
                  list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                  (a, b) -> a + b))) AS v
  FROM embeddings
  WHERE {_ph.duck_nonzero_norm('embedding')})"""


_SIM_NORM_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


_TOKENS = r"""tokv AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS token
  FROM documents)"""
