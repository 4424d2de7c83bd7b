"""Feature-store parity queries (SURVEY.md S2.1-S2.10) plus the
TPC-H-shaped bench headliners (Q1, top-k per group, skew demo, EMA, PIT).

Registration is via the shared ``@_q`` registry in plans/_base.py.
Reference citations live on each query docstring.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aqi_featurestore_spark import pipeline
from aqi_featurestore_spark.functions import portable_hash as _ph
from aqi_featurestore_spark.functions.time_features import entity_key
from aqi_featurestore_spark.operators.dedup import append_if_absent
from aqi_featurestore_spark.operators.snapshot import latest_per_key, online_lookup
from aqi_featurestore_spark.plans._base import (
    _FEAT_CTE,
    _PIT_CTES,
    _SPINE_CTE,
    _q,
    _read,
    session_dir,
)


@_q(
    "feature_derivation",
    f"WITH {_FEAT_CTE} SELECT * FROM feat",
)
def q_feature_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F17/P1/U1: raw events -> typed feature rows, all native
    expressions (no UDF; reference uses a row-at-a-time Python UDF)."""
    return pipeline.derive_features(_read(spark, sf_dir, "events"))


@_q(
    "latest_per_key",
    f"""WITH {_FEAT_CTE}
SELECT entity_id, feature_timestamp, aqi, hour, day, "dayOfWeek" FROM (
  SELECT *, row_number() OVER (
      PARTITION BY entity_id
      ORDER BY feature_timestamp DESC, event_id DESC) AS rn
  FROM feat) t
WHERE rn = 1""",
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W2/O3: online-store materialization — most recent feature row per
    entity (Redis keying semantics), deterministic tie-break."""
    feat = pipeline.derive_features(_read(spark, sf_dir, "events"))
    snap = latest_per_key(feat, ["entity_id"], ts="feature_timestamp", tie_break=["event_id"])
    return snap.select("entity_id", "feature_timestamp", "aqi", "hour", "day", "dayOfWeek")


_REPETITION_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
  FROM documents),
tc AS (
  SELECT doc_id, tkn, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tkn FROM tok) GROUP BY 1, 2),
ts AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok
  FROM tc GROUP BY doc_id),
bc AS (
  SELECT doc_id, bg, count(*) AS c FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                  ELSE CAST([] AS VARCHAR[]) END) AS bg
    FROM tok) GROUP BY 1, 2),
bs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS top_big
  FROM bc GROUP BY doc_id)
SELECT ts.doc_id, ts.n_tokens,
       CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens AS distinct_ratio,
       CAST(ts.top_tok AS DOUBLE) / ts.n_tokens AS top_token_ratio,
       CAST(bs.top_big AS DOUBLE) / bs.n_bigrams AS top_bigram_ratio
FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id"""


@_q("repetition_stats", _REPETITION_SQL)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: type-token ratio plus
    most-frequent token/bigram shares — the thresholds LLM curation
    pipelines use to drop boilerplate and degenerate repetition."""
    from aqi_featurestore_spark.operators.text_quality import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents"))


_PII_SQL = """
WITH synth AS (
  SELECT event_id,
         'reach user' || CAST(user_id AS VARCHAR) || ' at u' || CAST(user_id AS VARCHAR)
           || '@mail.example.com or +1-555-' || CAST(event_id % 10000 AS VARCHAR) AS text
  FROM events)
SELECT event_id,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{3,6}}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{3,6}}')) AS INT) AS n_phones
FROM synth""".replace("{{", "{").replace("}}", "}")


@_q("pii_redaction", _PII_SQL)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: emails/phones -> placeholder tokens with match
    counts. The testdata corpus carries no PII, so the query synthesizes
    deterministic PII-bearing text from event fields first — the oracle
    re-synthesizes and re-redacts it, so Java-regex vs RE2 semantics are
    genuinely exercised. Map-only at scale."""
    from aqi_featurestore_spark.operators.text_quality import redact_pii

    events = _read(spark, sf_dir, "events")
    synth = events.select(
        "event_id",
        F.concat(
            F.lit("reach user"),
            F.col("user_id").cast("string"),
            F.lit(" at u"),
            F.col("user_id").cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            (F.col("event_id") % 10000).cast("string"),
        ).alias("text"),
    )
    return redact_pii(synth).select("event_id", "redacted", "n_emails", "n_phones")


_CONTAMINATION_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM tok),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
SELECT d.doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / count(*)
         AS contamination_ratio
FROM sh d LEFT JOIN bench b ON d.s = b.s
GROUP BY d.doc_id"""


@_q("contamination_check", _CONTAMINATION_SQL)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage gate: fraction of each doc's 3-shingles found in
    the 'benchmark' subset (every 97th doc stands in for an eval suite).
    The benchmark shingle set broadcasts; the corpus never shuffles its
    text — the leakage check an LLM pipeline runs before training."""
    from aqi_featurestore_spark.operators.text_quality import contamination_check

    docs = _read(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_check(docs, benchmark)


_STRATA_RATES = {"en": 0.2, "zh": 0.5, "de": 0.8}
_STRATA_DEFAULT = 1.0

_STRATIFIED_SQL = f"""
WITH u AS (
  SELECT doc_id, lang, n_chars,
         {{hex4}} AS u16
  FROM (SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents))
SELECT doc_id, lang, n_chars FROM u
WHERE u16 < CASE {" ".join(f"WHEN lang = '{v}' THEN {int(r * 65536)}" for v, r in _STRATA_RATES.items())}
            ELSE {int(_STRATA_DEFAULT * 65536)} END"""


@_q("stratified_sample", _STRATIFIED_SQL.format(hex4=_ph.duck_hex_int("h", 1, 4)))
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (rebalancing a skewed
    language mix is a standard curation pass): md5-uniform per doc_id vs
    per-stratum thresholds — no RNG, no shuffle, rerun-stable, and the
    oracle reproduces the exact row set."""
    from aqi_featurestore_spark.operators.text_quality import stratified_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return stratified_sample(
        docs,
        strata_col="lang",
        key_col="doc_id",
        rates=_STRATA_RATES,
        default_rate=_STRATA_DEFAULT,
    )


_QUANTILES_SQL = """
SELECT lang, count(*) AS n_docs,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       quantile_cont(n_chars, 0.99) AS p99
FROM documents GROUP BY lang"""


@_q("corpus_quantiles", _QUANTILES_SQL)
def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution (the profile a curation
    pass thresholds against). Exact percentiles — Spark's `percentile`
    and DuckDB's `quantile_cont` share the (n-1)*p linear-interpolation
    definition, so values agree bit-for-bit. At 100 TB swap in
    approx_percentile (t-digest sketch, mergeable, no per-group sort)
    and keep this exact form as its small-scale oracle."""
    d = _read(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.percentile("n_chars", F.lit(0.5)).alias("p50"),
        F.percentile("n_chars", F.lit(0.9)).alias("p90"),
        F.percentile("n_chars", F.lit(0.99)).alias("p99"),
    )


_TOKCOUNT_DUCK = (
    r"len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))"
)

_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST({_TOKCOUNT_DUCK} AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS o
  FROM documents),
s AS (
  SELECT doc_id, n_tokens,
         COALESCE(CAST(sum(n_tokens) OVER (
             ORDER BY o, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           0) AS start_tok
  FROM t WHERE n_tokens > 0)
SELECT doc_id, n_tokens, start_tok,
       start_tok // 2048 AS chunk_id,
       start_tok % 2048 AS chunk_offset,
       (start_tok + n_tokens - 1) // 2048 AS end_chunk,
       (start_tok + n_tokens - 1) // 2048 - start_tok // 2048 + 1 AS n_chunks
FROM s"""


@_q("sequence_packing", _PACKING_SQL)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk dataloader packing: md5-deterministic global
    document order, then each doc's placement in fixed 2048-token
    context windows. The global ordered prefix sum runs as a bucketed
    two-phase scan (parallel per-bucket windows + 256-row offset
    broadcast), never a single-partition window — the oracle's plain
    global window proves the distributed scan reproduces it exactly."""
    from aqi_featurestore_spark.operators.packing import sequence_pack

    return sequence_pack(_read(spark, sf_dir, "documents"), ctx_len=2048)


_MIXTURE_SQL = f"""
WITH d AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({_TOKCOUNT_DUCK}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source)
SELECT domain, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
         AS token_share,
       (1.0 / count(*) OVER ()) /
         (CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE))
         AS resample_weight
FROM d"""


@_q("domain_mixture", _MIXTURE_SQL)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares + the uniform-rebalancing resample
    weights a curation pass multiplies into per-doc sampling rates.
    One combinable aggregation; the share window runs on the #domains-
    row aggregate."""
    from aqi_featurestore_spark.operators.packing import domain_mixture

    return domain_mixture(_read(spark, sf_dir, "documents"))


_RUNNING_SQL = r"""
SELECT user_id, ts, event_id,
       CAST(count(*) OVER w AS BIGINT) AS run_n,
       max("value") OVER w AS run_max,
       CAST(SUM(CAST(round("value" * 100, 0) AS BIGINT)) OVER w AS BIGINT)
         AS run_sum_c
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)"""


@_q("running_stats", _RUNNING_SQL)
def q_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-entity history stats (running count/max/sum) — the
    frame-bounded window family next to lag (W1). Partitioned by entity,
    so the sort is per-key and parallel; ties broken by event_id for a
    deterministic frame; integer centi-sums for order independence."""
    events = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "ts",
        "event_id",
        F.count("*").over(w).alias("run_n"),
        F.max("value").over(w).alias("run_max"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).over(w).alias("run_sum_c"),
    )


_TRAILING_SQL = r"""
SELECT user_id, ts, event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(round("value" * 100, 0) AS BIGINT)) OVER w AS BIGINT)
         AS sum_1h_c
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)"""


@_q("trailing_hour_stats", _TRAILING_SQL)
def q_trailing_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (trailing 1 h per entity) — the third
    frame type next to rows-bounded (`running_stats`) and unbounded.
    Spark range frames need a numeric ordering, so the frame runs over
    epoch MICROseconds — full timestamp precision; second-truncated
    epochs would shift the hour boundary under each row's sub-second
    component and silently disagree with the oracle's INTERVAL frame.
    Rows tied on ts share a frame in both engines (RANGE semantics), so
    no id tie-break is needed."""
    events = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        # unix_micros rejects TIMESTAMP_NTZ; cast via the UTC-pinned
        # session so the epoch equals the oracle's naive-UTC epoch_us
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "user_id",
        "ts",
        "event_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).over(w).alias("sum_1h_c"),
    )


_DECILES_SQL = r"""
SELECT event_id, event_type,
       CAST(ntile(10) OVER (PARTITION BY event_type
                            ORDER BY "value", event_id) AS INT) AS decile
FROM events"""


@_q("value_deciles", _DECILES_SQL)
def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type decile assignment (ntile) — the rank-family window op
    used for threshold-free outlier trimming (drop decile 1/10). Ties
    broken by event_id so both engines assign identical buckets."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id", "event_type", F.ntile(10).over(w).cast("int").alias("decile")
    )


_EVENT_PIVOT_SQL = r"""
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY user_id"""

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_q("event_pivot", _EVENT_PIVOT_SQL)
def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event-type counts as columns. The
    value list is explicit — without it Spark runs an eager extra job
    just to collect distinct pivot values before planning (a full scan
    at 100 TB); with it the pivot compiles to one shuffle-by-user hash
    aggregate. Missing combinations become 0, matching the CASE-sum
    oracle."""
    events = _read(spark, sf_dir, "events")
    wide = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )
    return wide.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in _EVENT_TYPES]
    )


_JSON_EXTRACT_SQL = r"""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
         AS sum_k,
       CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INT)
         AS max_k
FROM events GROUP BY event_type"""


@_q("json_extract_stats", _JSON_EXTRACT_SQL)
def q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the JSON props column parsed ONCE
    with a typed schema (`from_json` — JVM-side, codegen'd, Jackson
    under the hood; never a Python UDF) and aggregated per type.
    `get_json_object` would re-parse the string per extracted field —
    with a typed struct, N fields cost one parse. Malformed/missing
    keys become NULL and drop out of the aggregates in both engines."""
    events = _read(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


_EVENT_UNPIVOT_SQL = r"""
WITH wide AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
  FROM events GROUP BY user_id)
SELECT user_id, kind, n FROM (
  SELECT user_id, 'n_click' AS kind, n_click AS n FROM wide
  UNION ALL
  SELECT user_id, 'n_purchase' AS kind, n_purchase AS n FROM wide)"""


@_q("event_unpivot", _EVENT_UNPIVOT_SQL)
def q_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the melt inverse of `event_pivot`): Spark's
    native `unpivot` compiles to a single Expand — one pass, row count
    × number of value columns, no self-union re-scan (the oracle's
    UNION ALL shape would scan the wide table once per column at
    scale)."""
    events = _read(spark, sf_dir, "events")
    wide = (
        events.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        )
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["n_click", "n_purchase"],
        variableColumnName="kind",
        valueColumnName="n",
    )


_SCD2_SQL = r"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type AS state,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM o),
i AS (
  SELECT user_id, state, CAST(island AS BIGINT) AS island,
         min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
  FROM g GROUP BY user_id, state, island)
SELECT user_id, state, island, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
         AS valid_to,
       n_events
FROM i"""


@_q("scd2_state_history", _SCD2_SQL)
def q_scd2_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history built from an event
    log: collapse each user's consecutive runs of the same state into
    validity intervals [valid_from, valid_to) — the gaps-and-islands
    pattern (change flag via lag → running sum numbers the islands →
    per-island aggregate → lead stitches the end timestamps). NULL
    valid_to marks the open current row. Every window is partitioned
    by user (no global sort); island, not valid_from, orders the lead
    so tied timestamps across adjacent islands stay deterministic."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("state").over(w)
    o = events.select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    ).withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("state")), 1).otherwise(0),
    )
    g = o.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    i = g.groupBy("user_id", "state", F.col("island").cast("long").alias("island")).agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("island")
    return i.select(
        "user_id",
        "state",
        "island",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


_REVENUE_ROLLUP_SQL = r"""
WITH j AS (
  SELECT r_name, n_name,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * CAST(round((1 - l_discount) * 10000, 0) AS BIGINT) AS rev_i
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01')
SELECT r_name, n_name,
       CAST(sum(rev_i) AS BIGINT) AS revenue_i,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(GROUPING(r_name, n_name) AS INT) AS gid
FROM j GROUP BY ROLLUP (r_name, n_name)"""


@_q("revenue_rollup", _REVENUE_ROLLUP_SQL)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region → nation → grand total) over the
    Q5-shaped join tree: date predicate pushed to the orders scan,
    dimensions broadcast, then ONE Expand feeding a single hash
    aggregate emits all three grouping levels — no per-level re-scan.
    Revenue accumulates exactly in integer (cents × basis-points);
    grouping_id disambiguates subtotal NULLs."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    rev_i = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * F.round(
        (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name", rev_i.alias("rev_i"))
    )
    return j.rollup("r_name", "n_name").agg(
        F.sum("rev_i").alias("revenue_i"),
        F.count("*").alias("n_items"),
        F.grouping_id().cast("int").alias("gid"),
    )


_APPROX_DISTINCT_SQL = r"""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS hll_ok, TRUE AS acd_ok, TRUE AS merge_ok
FROM events GROUP BY event_type"""


@_q("approx_distinct", _APPROX_DISTINCT_SQL)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counts — the scale path for
    COUNT(DISTINCT) (exact form shuffles every value; HLL ships
    KB-size mergeable registers). Emits the exact count plus
    deterministic within-bound booleans for the HLL and
    approx_count_distinct estimates, and `merge_ok` proving per-day
    sketches unioned per key estimate EXACTLY what the single-pass
    sketch does (register-max is associative — the continuous-rollup
    pattern). The oracle pins the exact counts and expects every
    boolean TRUE — approximate operators verified without the oracle
    reproducing the sketch."""
    from aqi_featurestore_spark.operators.approx import distinct_count_profile

    events = _read(spark, sf_dir, "events")
    return distinct_count_profile(
        events, ["event_type"], "user_id", day_col="ts", rel_bound=0.10
    )


_APPROX_QUANTILES_SQL = r"""
SELECT event_type,
       quantile_cont("value", 0.5)  AS q50,
       quantile_cont("value", 0.95) AS q95,
       TRUE AS q50_ok, TRUE AS q95_ok
FROM events GROUP BY event_type"""


@_q("approx_quantiles", _APPROX_QUANTILES_SQL)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (Spark `percentile` == DuckDB
    `quantile_cont` bit-for-bit) next to `approx_percentile`
    within-1% booleans — the mergeable-sketch quantile path graded
    against the exact sort-based answer."""
    from aqi_featurestore_spark.operators.approx import quantile_profile

    events = _read(spark, sf_dir, "events")
    return quantile_profile(events, ["event_type"], "value")


_RANGE_JOIN_SQL = r"""
SELECT w.o_orderkey,
       CAST(count(*) AS BIGINT) AS n_shipped,
       CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
         AS qty_c
FROM lineitem l
JOIN (SELECT o_orderkey, o_orderdate AS w_start,
             o_orderdate + INTERVAL 3 DAY AS w_end
      FROM orders WHERE o_orderpriority = '1-URGENT') w
  ON l.l_shipdate BETWEEN w.w_start AND w.w_end
GROUP BY w.o_orderkey"""


@_q("range_join_agg", _RANGE_JOIN_SQL)
def q_range_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment (range) join WITHOUT an equi-key: lineitems
    shipped inside each urgent order's 3-day window, aggregated per
    window. Naively this is a theta join (BroadcastNestedLoopJoin /
    cartesian — dead at 100 TB); ``operators.range_join`` rewrites it as
    bucketed expansion + equi-join + residual filter, so the physical
    plan is an ordinary shuffled join on fixed-width bucket keys with
    ≤2× replication of the interval side (width = span).

    Because COUNT/SUM are algebraic and the point column is day-grained,
    the aggregation is pushed BELOW the range join: lineitems collapse to
    per-shipdate partials first (~|distinct dates| rows, map-side
    combinable), the range join matches dates→windows, and the final agg
    merges partials. At sf0.1 this cuts the join's left side from ~600k
    rows × ~35 matching windows each (~20M intermediate rows) to ~2.5k
    date rows — same answer, and the ratio only improves with scale.
    Quantity sums accumulate in integer cents, cast once at the end."""
    from aqi_featurestore_spark.operators.range_join import range_join_time

    orders = _read(spark, sf_dir, "orders")
    lineitem = _read(spark, sf_dir, "lineitem")
    windows = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("w_end"),
    )
    daily = lineitem.groupBy("l_shipdate").agg(
        F.count("*").alias("__n"),
        F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).alias("__qty_c"),
    )
    joined = range_join_time(
        daily,
        windows,
        point="l_shipdate",
        start="w_start",
        end="w_end",
        bucket_width_seconds=3 * 86_400,
    )
    return joined.groupBy("o_orderkey").agg(
        F.sum("__n").alias("n_shipped"),
        F.sum("__qty_c").alias("qty_c"),
    )


_ATTRIBUTION_SQL = r"""
WITH p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'),
cand AS (
  SELECT p.purchase_id, c.click_id, c.click_ts,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
  FROM p JOIN c
    ON p.user_id = c.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL '1 hour')
SELECT p.purchase_id, p.user_id, p.purchase_ts, x.click_id, x.click_ts
FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) x
  ON p.purchase_id = x.purchase_id"""


@_q("attribution_join", _ATTRIBUTION_SQL)
def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase joined to the most recent
    click by the same user within the preceding hour — the flagship
    as-of join (J1) applied to a second domain (same operator, same
    max_by aggregation plan, TTL = attribution window; filters push to
    the scan). Purchases with no qualifying click keep NULL clicks."""
    from aqi_featurestore_spark.operators.pit_join import point_in_time_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return point_in_time_join(
        purchases,
        clicks,
        keys=["user_id"],
        event_ts="purchase_ts",
        feature_ts="click_ts",
        feature_cols=["click_id"],
        tie_break=["click_id"],
        ttl=timedelta(hours=1),
    )


_SLIDING_SQL = r"""
WITH e AS (
  SELECT user_id, ts, time_bucket(INTERVAL '15 minutes', ts) AS tb,
         CAST(round("value" * 100, 0) AS BIGINT) AS v
  FROM events)
SELECT tb - (k * INTERVAL '15 minutes') AS window_start,
       tb - (k * INTERVAL '15 minutes') + INTERVAL '1 hour' AS window_end,
       user_id, count(*) AS n_obs, CAST(SUM(v) AS BIGINT) AS sum_value_c
FROM e CROSS JOIN (SELECT unnest(range(4)) AS k) ks
GROUP BY 1, 2, 3"""


@_q("sliding_windows", _SLIDING_SQL)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — 1 h length, 15 min hop — the third
    windowing family next to tumbling (`hourly_rollup`) and session
    (`session_windows`). Each event lands in exactly window/hop = 4
    windows; the oracle replicates rows via unnest(range(4)) off the
    15-minute bucket. Works identically on a stream with a watermark."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_obs",
            "sum_value_c",
        )
    )


_CUBE_SQL = r"""
WITH e AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(round("value" * 100, 0) AS BIGINT) AS v
  FROM events)
SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(v) AS BIGINT) AS sum_value_c,
       CAST(GROUPING(event_type, day) AS INT) AS gid
FROM e GROUP BY CUBE (event_type, day)"""


@_q("daily_cube", _CUBE_SQL)
def q_daily_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup over (event_type, day): all four grouping sets in one
    pass (Spark's Expand feeds a single hash aggregate — no re-scan per
    set). grouping_id disambiguates subtotal rows from natural NULLs;
    integer centi-sums keep values order-independent."""
    events = _read(spark, sf_dir, "events")
    e = events.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    return e.cube("event_type", "day").agg(
        F.count("*").alias("n_obs"),
        F.sum("v").alias("sum_value_c"),
        F.grouping_id().cast("int").alias("gid"),
    )


_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN "{c}" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT "{c}") AS BIGINT) AS n_distinct FROM events"""
    for c in _PROFILE_COLS
)


@_q("table_profile", _PROFILE_SQL)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training data audit: per-column completeness + exact
    cardinality over events. One pruned single-column scan per branch —
    never the multi-count_distinct Expand; approx_count_distinct is the
    documented full-scale variant."""
    from aqi_featurestore_spark.operators.profile import column_profile

    return column_profile(_read(spark, sf_dir, "events"), _PROFILE_COLS)


_SKEW_JOIN_SQL = """
WITH fact AS (
  SELECT CASE WHEN user_id % 20 <> 0 THEN 'hot'
              ELSE CAST(user_id AS VARCHAR) END AS k,
         "value"
  FROM events CROSS JOIN (SELECT unnest(range(30)) AS rep)),
dim AS (
  SELECT k, CAST(length(k) AS INT) AS klen
  FROM (SELECT DISTINCT CASE WHEN user_id % 20 <> 0 THEN 'hot'
                             ELSE CAST(user_id AS VARCHAR) END AS k
        FROM events))
SELECT f.k, count(*) AS n_rows,
       CAST(SUM(CAST(round(f."value" * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_c,
       max(d.klen) AS klen
FROM fact f JOIN dim d ON f.k = d.k
GROUP BY f.k"""


def _skewed_fact_dim(spark: SparkSession, sf_dir: str):
    """~95% of fact rows share ONE key ('hot'), replicated x30 — the
    hot-key shape AQE's skew split does not catch at small partition
    sizes. The dim derives from the un-exploded events (cheap distinct)
    and carries a merge-join hint so the measured join is the shuffle
    join a 100 TB non-broadcastable dim would force."""
    events = _read(spark, sf_dir, "events")
    k = F.when(F.col("user_id") % 20 != 0, F.lit("hot")).otherwise(
        F.col("user_id").cast("string")
    )
    fact = (
        events.select(k.alias("k"), "value")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(29))))
        .drop("rep")
    )
    dim = (
        events.select(k.alias("k"))
        .distinct()
        .select("k", F.length("k").alias("klen"))
    )
    return fact, dim.hint("merge")


def _skew_join_agg(joined: DataFrame) -> DataFrame:
    return joined.groupBy("k").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_c"),
        F.max("klen").alias("klen"),
    )


@_q("skew_join_plain", _SKEW_JOIN_SQL)
def q_skew_join_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline for the skew pair: plain sort-merge join on the hot key —
    one reducer sorts ~90% of the fact side."""
    fact, dim = _skewed_fact_dim(spark, sf_dir)
    return _skew_join_agg(fact.join(dim, "k"))


@_q("skew_join_salted", _SKEW_JOIN_SQL)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted variant of the same join (operators/skew.py): fact salted
    deterministically, dim replicated per salt, join on (k, salt) —
    row-identical output (same oracle), hot key spread over 8 reducers.
    The bench pairs this with skew_join_plain so the skew claim carries
    a measured number."""
    from aqi_featurestore_spark.operators.skew import salted_equi_join

    fact, dim = _skewed_fact_dim(spark, sf_dir)
    return _skew_join_agg(salted_equi_join(fact, dim, ["k"], salt_buckets=8))


def _ema_sql(alpha: float = 0.3) -> str:
    # beta is computed in Python and embedded via repr so both engines
    # multiply by the SAME double (1.0 - 0.3 != literal 0.7 in IEEE).
    return f"""
WITH {_FEAT_CTE},
vals AS (
  SELECT entity_id,
         list(aqi ORDER BY feature_timestamp, event_id) AS vs,
         count(aqi) AS n_obs,
         max(feature_timestamp) AS last_ts
  FROM feat WHERE aqi IS NOT NULL
  GROUP BY entity_id)
SELECT entity_id,
       list_reduce(vs, (acc, v) -> {alpha!r} * v + {(1.0 - alpha)!r} * acc) AS ema,
       n_obs, last_ts
FROM vals"""


@_q("ema_features", _ema_sql())
def q_ema_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-family in batch mode: per-entity exponential moving average of
    AQI in event-time order — the exact sequential fold the stateful
    streaming operator (streaming/stateful.py running_aqi_ema) maintains
    incrementally; DuckDB replays it with list_reduce over the per-key
    ordered value list. Seeds with the first value; ties break on
    event_id."""
    from aqi_featurestore_spark.streaming.stateful import batch_ema

    feat = pipeline.derive_features(_read(spark, sf_dir, "events"))
    return batch_ema(feat, alpha=0.3)


_LOCAL_TIME_SQL = """
SELECT event_id, ts,
       ts + INTERVAL 7 hours AS local_ts,
       CAST(hour(ts + INTERVAL 7 hours) AS INT) AS local_hour,
       CAST(day(ts + INTERVAL 7 hours) AS INT) AS local_day,
       CAST(dayofweek(ts + INTERVAL 7 hours) + 1 AS INT) AS "local_dayOfWeek"
FROM events"""


@_q("local_time_features", _LOCAL_TIME_SQL)
def q_local_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: UTC-stored timestamps -> Asia/Ho_Chi_Minh local components via
    from_utc_timestamp (SURVEY §7.3's 7-hour shift). The oracle hardcodes
    the +07:00 offset, which is exact for this zone (no DST since 1975) —
    so a wrong tz-database lookup on the Spark side would mismatch."""
    from aqi_featurestore_spark.functions.time_features import local_time_features

    events = _read(spark, sf_dir, "events")
    cols = local_time_features("ts")
    return events.select(
        "event_id",
        "ts",
        cols["local_ts"].alias("local_ts"),
        cols["local_hour"].alias("local_hour"),
        cols["local_day"].alias("local_day"),
        cols["local_dayOfWeek"].alias("local_dayOfWeek"),
    )


_VERSIONED_PIT_SQL = f"""
WITH {_FEAT_CTE},
{_SPINE_CTE},
v2src AS (
  SELECT entity_id, feature_timestamp, aqi * 2 AS aqi, day, event_id
  FROM feat WHERE event_id % 31 = 0),
c1 AS (
  SELECT * FROM (
    SELECT s.entity_id, s.event_timestamp, f.aqi, f.hour,
           row_number() OVER (
             PARTITION BY s.entity_id, s.event_timestamp
             ORDER BY f.feature_timestamp DESC, f.event_id DESC) AS rn
    FROM (SELECT DISTINCT entity_id, event_timestamp FROM spine) s
    JOIN feat f ON s.entity_id = f.entity_id
     AND f.feature_timestamp <= s.event_timestamp
     AND f.feature_timestamp >= s.event_timestamp - INTERVAL '7 days') t
  WHERE rn = 1),
c2 AS (
  SELECT * FROM (
    SELECT s.entity_id, s.event_timestamp, f.day,
           row_number() OVER (
             PARTITION BY s.entity_id, s.event_timestamp
             ORDER BY f.feature_timestamp DESC, f.event_id DESC) AS rn
    FROM (SELECT DISTINCT entity_id, event_timestamp FROM spine) s
    JOIN v2src f ON s.entity_id = f.entity_id
     AND f.feature_timestamp <= s.event_timestamp
     AND f.feature_timestamp >= s.event_timestamp - INTERVAL '1 day') t
  WHERE rn = 1)
SELECT sp.entity_id, sp.event_timestamp, c1.aqi, c1.hour, c2.day
FROM spine sp
LEFT JOIN c1 ON sp.entity_id = c1.entity_id AND sp.event_timestamp = c1.event_timestamp
LEFT JOIN c2 ON sp.entity_id = c2.entity_id AND sp.event_timestamp = c2.event_timestamp"""


@_q("versioned_pit_multiview", _VERSIONED_PIT_SQL)
def q_versioned_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 through the FeatureStore facade with TWO versioned views
    (reference feast/features/aqi_feature.py:17-45): v1 (aqi, hour,
    7-day TTL) and v2 (sparser history, doubled 'aqi', day, 1-day TTL)
    joined against one spine in a single get_historical_features call.
    Pins (a) per-view TTL masking — v2's short TTL NULLs rows v1 still
    fills — and (b) the first-view-wins collision rule: the requested
    v2:aqi must NOT override v1's values (oracle emits v1 aqi only)."""
    from aqi_featurestore_spark.registry import FeatureView
    from aqi_featurestore_spark.store import FeatureStore

    events = _read(spark, sf_dir, "events")
    feat = pipeline.derive_features(events)
    store = FeatureStore(spark, session_dir("aqi_fs_q_"))
    store.apply(
        FeatureView(
            name="aqi_v1",
            entities=("entity_id",),
            ttl=timedelta(days=7),
            features=(("aqi", "double"), ("hour", "int")),
            source="events",
        )
    )
    store.apply(
        FeatureView(
            name="aqi_v2",
            entities=("entity_id",),
            ttl=timedelta(days=1),
            features=(("aqi", "double"), ("day", "int")),
            source="events",
        )
    )
    store.write_offline("aqi_v1", feat)
    store.write_offline(
        "aqi_v2",
        feat.where(F.col("event_id") % 31 == 0).withColumn(
            "aqi", F.col("aqi") * 2
        ),
    )
    spine = pipeline.build_spine(events)
    return store.get_historical_features(
        spine,
        ["aqi_v1:aqi", "aqi_v1:hour", "aqi_v2:aqi", "aqi_v2:day"],
        tie_break=["event_id"],
    )


@_q("pit_join", f"{_PIT_CTES} SELECT * FROM pit")
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 flagship: point-in-time as-of join with 7d TTL; spine rows with
    no in-TTL history yield NULL features."""
    events = _read(spark, sf_dir, "events")
    feat = pipeline.derive_features(events)
    spine = pipeline.build_spine(events)
    return pipeline.historical_features(spine, feat, ttl=timedelta(days=7))


@_q(
    "training_set",
    f"""{_PIT_CTES},
valid AS (SELECT * FROM pit WHERE aqi IS NOT NULL),
lagged AS (
  SELECT entity_id, event_timestamp, aqi, hour, day, "dayOfWeek",
         lag(aqi, 1) OVER (
           PARTITION BY entity_id
           ORDER BY floor(epoch(event_timestamp)) + hour * 3600,
                    event_timestamp) AS last_hour_aqi
  FROM valid)
SELECT * FROM lagged WHERE last_hour_aqi IS NOT NULL""",
)
def q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 full lifecycle: derive -> PIT join -> datetime reconstruction ->
    lag feature -> drop incomplete. The model-ready frame."""
    return pipeline.training_set(spark, sf_dir)


@_q(
    "lag_features",
    """SELECT event_id, user_id, ts, "value",
       lag("value", 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS prev_value
FROM events""",
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 in isolation: per-entity lag over event time."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id", "user_id", "ts", "value", F.lag("value", 1).over(w).alias("prev_value")
    )


@_q(
    "dedup_gate",
    """SELECT event_id, user_id, event_type FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events s
  WHERE s.event_type = 'signup' AND s.user_id = e.user_id)""",
)
def q_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/J3: the lineage existence gate as a left-anti join — keep rows
    whose key is absent from the existing set (one shuffle, not one
    COUNT(*) probe per row like the reference)."""
    events = _read(spark, sf_dir, "events")
    existing = events.where(F.col("event_type") == "signup")
    return append_if_absent(events, existing, ["user_id"]).select(
        "event_id", "user_id", "event_type"
    )


@_q(
    "online_lookup",
    f"""WITH {_FEAT_CTE},
snap AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY entity_id
        ORDER BY feature_timestamp DESC, event_id DESC) AS rn
    FROM feat) t WHERE rn = 1),
keys AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS entity_id FROM events
  UNION ALL SELECT '__missing__'),
mx AS (SELECT max(feature_timestamp) AS as_of FROM feat)
SELECT k.entity_id,
       CASE WHEN s.feature_timestamp >= mx.as_of - INTERVAL '7 days'
            THEN s.aqi END AS aqi,
       CASE WHEN s.feature_timestamp >= mx.as_of - INTERVAL '7 days'
            THEN s.hour END AS hour,
       CASE WHEN s.feature_timestamp >= mx.as_of - INTERVAL '7 days'
            THEN s."dayOfWeek" END AS "dayOfWeek",
       CASE WHEN s.feature_timestamp >= mx.as_of - INTERVAL '7 days'
            THEN s.feature_timestamp END AS feature_timestamp
FROM keys k CROSS JOIN mx
LEFT JOIN snap s ON k.entity_id = s.entity_id""",
)
def q_online_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/S15: get_online_features — key lookup against the latest-per-key
    snapshot; unknown keys -> NULLs; TTL(7d) enforced at read relative to
    the newest feature timestamp (deterministic as_of)."""
    events = _read(spark, sf_dir, "events")
    feat = pipeline.derive_features(events)
    snap = latest_per_key(feat, ["entity_id"], ts="feature_timestamp", tie_break=["event_id"])
    snap = snap.select("entity_id", "feature_timestamp", "aqi", "hour", "dayOfWeek")
    keys = (
        events.select(entity_key("user_id").alias("entity_id"))
        .distinct()
        .unionByName(spark.createDataFrame([("__missing__",)], "entity_id string"))
    )
    as_of = feat.agg(F.max("feature_timestamp").alias("__as_of"))
    rows = keys.crossJoin(F.broadcast(as_of))
    out = online_lookup(
        rows, snap, ["entity_id"], ts="feature_timestamp",
        ttl=timedelta(days=7), as_of=F.col("__as_of"),
    )
    return out.select("entity_id", "aqi", "hour", "dayOfWeek", "feature_timestamp")


# ---------------------------------------------------------------------------
# General analytics (bench headliners; TPC-H-shaped)
# ---------------------------------------------------------------------------

_Q1_SQL = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity, 0) AS BIGINT)                AS qty_i,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)     AS price_i,
         CAST(round((1 - l_discount) * 10000, 0) AS BIGINT)  AS disc_i,
         CAST(round((1 + l_tax) * 10000, 0) AS BIGINT)       AS tax_i,
         CAST(round(l_discount * 10000, 0) AS BIGINT)        AS d_i
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'),
u AS (
  SELECT l_returnflag, l_linestatus, qty_i, price_i, d_i,
         (price_i * disc_i) // 1000000 AS dp_hi,
         (price_i * disc_i) % 1000000  AS dp_lo,
         (price_i * disc_i * tax_i) // 100000000 AS ch_hi,
         (price_i * disc_i * tax_i) % 100000000  AS ch_lo
  FROM t)
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM(qty_i) AS BIGINT) AS DOUBLE)                       AS sum_qty,
  CAST(CAST(SUM(price_i) AS BIGINT) AS DOUBLE) / 100.0             AS sum_base_price,
  (CAST(CAST(SUM(dp_hi) AS BIGINT) AS DOUBLE) * 1000000.0
     + CAST(CAST(SUM(dp_lo) AS BIGINT) AS DOUBLE)) / 1000000.0     AS sum_disc_price,
  (CAST(CAST(SUM(ch_hi) AS BIGINT) AS DOUBLE) * 100000000.0
     + CAST(CAST(SUM(ch_lo) AS BIGINT) AS DOUBLE)) / 10000000000.0 AS sum_charge,
  CAST(CAST(SUM(qty_i) AS BIGINT) AS DOUBLE) / COUNT(*)            AS avg_qty,
  CAST(CAST(SUM(price_i) AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*)  AS avg_price,
  CAST(CAST(SUM(d_i) AS BIGINT) AS DOUBLE) / 10000.0 / COUNT(*)    AS avg_disc,
  COUNT(*) AS count_order
FROM u GROUP BY l_returnflag, l_linestatus"""


@_q("q1_pricing_summary", _Q1_SQL)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg with map-side partial aggregation.

    Money columns are 2-4dp decimals stored as doubles; we accumulate in
    exact integer space and convert to DOUBLE with the same IEEE op
    sequence in both engines, so results are bit-identical regardless of
    summation order/parallelism. The scaled PRODUCTS (price*disc*tax up
    to ~2e15/row) sum past 2^63 at scale, and DECIMAL(38,0)->DOUBLE
    narrowing of a >64-bit sum rounds DIFFERENTLY across engines (1-ulp
    divergence, caught by the round-4 sf0.1 gate at ~5.1e19) — so each
    product is split into TWO int64 limbs (hi = x div S, lo = x mod S,
    S = 1e6/1e8); both limb sums stay exact int64 (safe to ~9e10
    rows/group — add a third limb beyond), and int64->double casts are
    correctly rounded in every engine, so the pinned-order
    reconstruction (hi*S + lo)/scale is bit-identical at any sf. Bonus:
    no BigDecimal aggregation (~2.5x the cost of long sums) anywhere."""
    l = _read(spark, sf_dir, "lineitem")
    qty_i = F.round(F.col("l_quantity"), 0).cast("long")
    price_i = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_i = F.round((F.lit(1) - F.col("l_discount")) * 10000, 0).cast("long")
    tax_i = F.round((F.lit(1) + F.col("l_tax")) * 10000, 0).cast("long")
    d_i = F.round(F.col("l_discount") * 10000, 0).cast("long")
    dp = price_i * disc_i          # <= ~2e11 per row, exact in long
    ch = price_i * disc_i * tax_i  # <= ~2e15 per row, exact in long
    # integer div via (x - x % S) / S: numerator <= 2e15 < 2^53 and the
    # quotient is an exact integer, so the double division is exact
    dp_hi = ((dp - dp % 1_000_000) / 1_000_000).cast("long")
    dp_lo = dp % 1_000_000
    ch_hi = ((ch - ch % 100_000_000) / 100_000_000).cast("long")
    ch_lo = ch % 100_000_000
    return (
        l.where(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_i).cast("double").alias("sum_qty"),
            (F.sum(price_i).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (
                (F.sum(dp_hi).cast("double") * F.lit(1_000_000.0)
                 + F.sum(dp_lo).cast("double")) / F.lit(1_000_000.0)
            ).alias("sum_disc_price"),
            (
                (F.sum(ch_hi).cast("double") * F.lit(100_000_000.0)
                 + F.sum(ch_lo).cast("double")) / F.lit(10_000_000_000.0)
            ).alias("sum_charge"),
            (F.sum(qty_i).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price_i).cast("double") / F.lit(100.0) / F.count("*")).alias("avg_price"),
            (F.sum(d_i).cast("double") / F.lit(10000.0) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "top_k_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) t
WHERE rk <= 3""",
)
def q_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per key via ranking window (the serving-layer 'top orders per
    customer' shape); deterministic tie-break on the unique key."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
    )


