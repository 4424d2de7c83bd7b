"""Time-component feature derivation + entity keying — native expressions.

Mirrors the reference's withColumn chain at
spark/code/write_to_bigquery.py:81-88 (from_unixtime/to_date/hour/year/
month/dayofmonth/dayofweek + concat_ws entity key + timestamp cast).

Convention decisions (SURVEY.md §7 hard parts):
- dayOfWeek uses Spark ``dayofweek`` (1=Sunday..7=Saturday) — the offline
  path's convention. The reference's online path uses isoweekday (1=Monday,
  airflow/dags/redis_data.py:67); we normalize at the online-write boundary
  instead of storing two conventions.
- Timestamps are naive-UTC under a pinned ``spark.sql.session.timeZone=UTC``;
  tz conversion (e.g. Asia/Ho_Chi_Minh) is explicit via
  ``from_utc_timestamp`` where a caller wants local-time features.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def time_feature_columns(ts: Column | str) -> dict[str, Column]:
    """Derive the reference's time-feature set from a timestamp column.

    Returns the column map so callers can ``withColumns`` it in one
    projection (single pass, no chained plan nodes).
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    d = F.to_date(t)
    return {
        "date": d,
        "hour": F.hour(t),
        "year": F.year(d),
        "month": F.month(d),
        "day": F.dayofmonth(d),
        "dayOfWeek": F.dayofweek(d),  # 1=Sunday (Spark convention, F5)
    }


def entity_key(*cols: Column | str, sep: str = "_") -> Column:
    """Entity key = "_"-joined string components — reference
    spark/code/write_to_bigquery.py:87 (``concat_ws("_", lat, lon)``).

    Float components format via Spark's double->string cast, which writes
    ``21.0`` / ``105.75`` — matching the reference's stored keys
    (agent/aqi-agent/app/agent.py:29-33 round-trip, SURVEY §7 hard part 4).
    """
    parts = [(F.col(c) if isinstance(c, str) else c).cast("string") for c in cols]
    return F.concat_ws(sep, *parts)


def reconstructed_datetime(event_ts: Column | str, hour: Column | str) -> Column:
    """``event_timestamp + hour`` datetime reconstruction used by the
    training scripts (model/aqi_predict_hn.py:40) before the lag feature."""
    t = F.col(event_ts) if isinstance(event_ts, str) else event_ts
    h = F.col(hour) if isinstance(hour, str) else hour
    return F.to_timestamp(F.unix_timestamp(t) + h.cast("long") * F.lit(3600))


def next_hour_features(hour: Column | str, day: Column | str, dow: Column | str) -> dict[str, Column]:
    """Next-hour rollover arithmetic (agent/aqi-agent/app/agent.py:88-90):
    hour wraps mod 24; on wrap, day+1 and dayOfWeek advances with mod-7
    rollover in the Spark 1..7 convention."""
    h = F.col(hour) if isinstance(hour, str) else hour
    d = F.col(day) if isinstance(day, str) else day
    w = F.col(dow) if isinstance(dow, str) else dow
    nh = F.pmod(h + 1, F.lit(24))
    wraps = nh == 0
    return {
        "next_hour": nh,
        "next_day": F.when(wraps, d + 1).otherwise(d),
        "next_dayOfWeek": F.when(wraps, F.pmod(w, F.lit(7)) + 1).otherwise(w),
    }


DATE_IN_TEXT_PATTERN = r"(\d{1,2}/\d{1,2}/\d{4})"


def parse_freetext_date(
    text: Column | str,
    *,
    pattern: str = DATE_IN_TEXT_PATTERN,
    fmt: str = "d/M/y",
) -> Column:
    """F11: first d/M/y date mentioned in free text -> DateType
    (reference agent/aqi-agent/app/agent.py:43-52 — the agent's
    ``to_date(regexp_extract(...))`` request parser, day-first).

    ``regexp_extract`` yields '' when nothing matches; ``try_to_date``
    maps that (and impossible dates like 31/4) to NULL — the refusal
    path for requests without a date survives as a NULL column, never an
    exception (ANSI-mode ``to_date`` would throw)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.try_to_date(F.regexp_extract(t, pattern, 1), fmt)


def local_time_features(
    ts: Column | str, tz: str = "Asia/Ho_Chi_Minh"
) -> dict[str, Column]:
    """F8: time-component features in a local zone (reference
    airflow/dags/redis_data.py:64-67 computes its online features in
    Asia/Ho_Chi_Minh while the offline path stores UTC — SURVEY §7.3's
    7-hour-shift hard part).

    Stored timestamps are naive-UTC (module convention above), so the
    conversion is one explicit ``from_utc_timestamp``; the component
    derivation then reuses the same Spark conventions as the UTC path
    (dayOfWeek 1=Sunday)."""
    t = F.col(ts) if isinstance(ts, str) else ts
    lt = F.from_utc_timestamp(t, tz)
    return {
        "local_ts": lt,
        "local_hour": F.hour(lt),
        "local_day": F.dayofmonth(lt),
        "local_dayOfWeek": F.dayofweek(lt),
    }
