"""Online-store semantics as pure DataFrame plans (A1, J2, S13, S15).

The reference's online store is Redis: hash upsert keyed ``aqi:{lat}:{lon}``
(airflow/dags/load.py:141, redis_data.py:93) — i.e. *latest value per
entity* — and ``get_online_features`` is a key lookup
(model/aqi_predict_hn.py:81-89, agent/aqi-agent/app/agent.py:73-76) with
the feature view's 7-day TTL enforced at read.

Here the online store is a compact "snapshot" DataFrame = one row per
entity key. At scale this is the right shape: the snapshot is bounded by
entity cardinality (not history length), persists as a small Parquet
table, and lookups broadcast it.

``latest_per_key`` uses ``max_by`` (hash agg, map-side partial combine)
rather than window+row_number — no full sort of the 100 TB history, and
AQE splits skewed entities.

The two version-column append logs (the model registry, the ANN index)
resolve through the same operator: ``latest_as_of`` is their as-of
view, and ``vacuum_versions`` their one keep-window vacuum.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _ordering(ts: str, tie_break: list[str]) -> Column:
    return F.struct(F.col(ts), *[F.col(c) for c in tie_break if c != ts])


def latest_per_key(
    df: DataFrame,
    keys: list[str] | None = None,
    *,
    ts: str = "feature_timestamp",
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Most recent row per entity key (Redis-overwrite semantics).

    Ties on ``ts`` break deterministically by ``tie_break`` columns
    (append-only stores can hold duplicates, SURVEY §2.9 ST6).
    """
    keys = keys or ["entity_id"]
    tie_break = tie_break or []
    payload_cols = [c for c in df.columns if c not in set(keys)]
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return (
        df.groupBy(*keys)
        .agg(F.max_by(payload, _ordering(ts, tie_break)).alias("__latest"))
        .select(*keys, *[F.col(f"__latest.{c}").alias(c) for c in payload_cols])
    )


def latest_as_of(
    df: DataFrame, keys: list[str], *, as_of: int | None = None
) -> DataFrame:
    """The as-of resolver of a version-column append log (the model
    registry's weights, the ANN index rows): the highest ``version`` row
    per key among the rows with ``version <= as_of`` (all rows when
    ``as_of`` is None). Pure DataFrame op; the retention-floor guard
    lives with the store's reader, which knows the store path."""
    if as_of is not None:
        df = df.where(F.col("version") <= int(as_of))
    return latest_per_key(df, keys, ts="version")


def vacuum_versions(
    spark: SparkSession,
    data_path: str,
    meta: str,
    *,
    keys: list[str],
    keep_versions: int,
    protect: tuple[int, ...] = (),
    partition_by: tuple[str, ...] = (),
    caller: str,
) -> dict:
    """Keep-window vacuum of the version-column append log at
    ``data_path`` whose retention floor is ``{meta}/floor.json``
    (``sources/manifests.read_floor``). ``caller`` prefixes the errors.

    Keep contract: the ``keep_versions`` highest versions stay
    replayable EXACTLY (``latest_as_of(..., as_of=v)`` for v >= the new
    floor is bit-identical before/after); rows at or below the floor
    collapse to the latest-per-key base snapshot AS OF the floor, so the
    current view and every in-window pin resolve unchanged while
    superseded rows and one-file-per-append fragments disappear. The
    floor never moves down. ``protect`` lists versions an external audit
    still pins; a vacuum whose floor would drop one raises instead.

    The advanced floor is written BEFORE the ``fs.replace_dir`` swap: a
    run killed between the two leaves the full history under a floor
    that already refuses below-floor pins, never compacted rows under
    the old floor (where such a pin would resolve against the base
    snapshot). A table with ``partition_by`` columns is rewritten one
    task per partition value; without, into one file.

    Returns ``{"files_before", "files_after", "rows_before",
    "rows_after", "min_as_of"}``."""
    from aqi_featurestore_spark.sources import fs
    from aqi_featurestore_spark.sources.manifests import read_floor, write_floor

    if keep_versions < 1:
        raise ValueError(f"{caller}: keep_versions must be >= 1")
    rows = spark.read.parquet(data_path)
    versions = sorted(r.version for r in rows.select("version").distinct().collect())
    files_before = len(fs.list_data_files(spark, data_path))
    rows_before = rows.count()
    # the keep window's lowest version, never below the recorded floor
    cutoff = max(versions[-min(keep_versions, len(versions))], read_floor(spark, meta))
    bad = [v for v in protect if v < cutoff]
    if bad:
        raise ValueError(
            f"{caller}: protected versions {bad} fall below the keep window "
            f"floor {cutoff} — raise keep_versions "
            f"(>= {len([v for v in versions if v >= min(bad)])}) or drop the pin"
        )
    base = latest_as_of(rows, keys, as_of=cutoff).select(*rows.columns)
    kept = rows.where(F.col("version") > cutoff).unionByName(base)
    out = kept.repartition(*partition_by) if partition_by else kept.coalesce(1)
    write_floor(spark, meta, cutoff)
    fs.replace_dir(spark, data_path, out, partition_by=partition_by)
    return {
        "files_before": files_before,
        "files_after": len(fs.list_data_files(spark, data_path)),
        "rows_before": rows_before,
        "rows_after": spark.read.parquet(data_path).count(),
        "min_as_of": cutoff,
    }


def upsert_snapshot(
    snapshot: DataFrame,
    updates: DataFrame,
    keys: list[str] | None = None,
    *,
    ts: str = "feature_timestamp",
    tie_break: list[str] | None = None,
) -> DataFrame:
    """``write_to_online_store`` semantics (redis_data.py:93): new rows win
    per key. Implemented as union + latest_per_key; updates beat existing
    rows with equal ``ts`` (upsert overwrite) via a precedence column.
    """
    keys = keys or ["entity_id"]
    tagged = snapshot.withColumn("__prec", F.lit(0)).unionByName(
        updates.withColumn("__prec", F.lit(1))
    )
    out = latest_per_key(tagged, keys, ts=ts, tie_break=[*(tie_break or []), "__prec"])
    return out.drop("__prec")


def online_lookup(
    entity_rows: DataFrame,
    snapshot: DataFrame,
    keys: list[str] | None = None,
    *,
    ts: str = "feature_timestamp",
    ttl: timedelta | None = None,
    as_of: Column | None = None,
) -> DataFrame:
    """``get_online_features``: left join of the request keys against the
    snapshot; unknown keys yield NULL features (agent.py:78 null guard);
    rows older than ``ttl`` relative to ``as_of`` are masked to NULL.

    The snapshot side is broadcast — it is bounded by entity cardinality
    and this is a serving-path lookup.
    """
    keys = keys or ["entity_id"]
    feature_cols = [c for c in snapshot.columns if c not in set(keys)]
    out = entity_rows.join(F.broadcast(snapshot), on=keys, how="left")
    if ttl is not None:
        if as_of is None:
            as_of = F.current_timestamp()
        expired = F.col(ts) < (as_of - F.expr(f"INTERVAL {int(ttl.total_seconds())} SECONDS"))
        out = out.select(
            *entity_rows.columns,
            *[F.when(~expired, F.col(c)).alias(c) for c in feature_cols],
        )
    return out


def resolve_entity(
    requests: DataFrame,
    dimension: DataFrame,
    *,
    text_col: str = "query_text",
    name_col: str = "name",
    key_col: str = "entity_id",
) -> DataFrame:
    """P8/F15: free-text request -> entity key via case-insensitive
    containment against a (name, entity_id) dimension table (the
    reference's city-substring dict, agent.py:29-33,56-58, as a broadcast
    join). Unmatched requests keep NULL keys — the refusal path.

    Exactly ONE output row per request row: when a request mentions
    several dimension names, the longest match wins (ties break on the
    smallest key) — a deterministic version of the reference's
    first-match dict loop, which depends on dict insertion order."""
    from pyspark.sql import Window

    dim = F.broadcast(
        dimension.select(
            F.lower(F.col(name_col)).alias("__name"), F.col(key_col)
        )
    )
    tagged = requests.withColumn("__req", F.monotonically_increasing_id())
    cond = F.contains(F.lower(tagged[text_col]), F.col("__name"))
    w = Window.partitionBy("__req").orderBy(
        F.length("__name").desc_nulls_last(), F.col(key_col).asc()
    )
    return (
        tagged.join(dim, cond, "left")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__name", "__req", "__rn")
    )
