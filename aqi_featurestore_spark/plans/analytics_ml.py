"""Rollup cascade, classification (Rocchio/label spreading), keyword
extraction, star denormalization, A/B tests, market basket, robust
medians, Benford, spatial kNN, LTTB, dedup resolution, splits, eval
metrics, funnels, retention, chunking, vocab/TF-IDF, CDC diff, Z-order.

Registration is via the shared ``@_q`` registry in plans/_base.py.
Reference citations live on each query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aqi_featurestore_spark import pipeline
from aqi_featurestore_spark.functions import portable_hash as _ph
from aqi_featurestore_spark.plans import approx_oracles
from aqi_featurestore_spark.operators.similarity import embedding_cosine_pairs
from aqi_featurestore_spark.plans._base import (
    _NGRAM_JACCARD_SQL,
    _PIT_CTES,
    _TOKENS,
    _q,
    _read,
)


_ROLLUP_CASCADE_SQL = r"""
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
         COUNT(*) AS n,
         CAST(SUM(CAST(round("value" * 100, 0) AS BIGINT)) AS BIGINT) AS s,
         MAX(CAST(round("value" * 100, 0) AS BIGINT)) AS mx
  FROM events GROUP BY 1, 2),
daily AS (
  SELECT user_id, CAST(h AS DATE) AS d,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s,
         MAX(mx) AS mx
  FROM hourly GROUP BY 1, 2),
monthly AS (
  SELECT user_id, strftime(d, '%Y-%m') AS month,
         CAST(SUM(n) AS BIGINT) AS n_obs, CAST(SUM(s) AS BIGINT) AS sum_value_c,
         MAX(mx) AS max_value_c
  FROM daily GROUP BY 1, 2)
SELECT user_id, month, n_obs, sum_value_c, max_value_c FROM monthly"""


@_q("rollup_cascade", _ROLLUP_CASCADE_SQL)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup CASCADE: monthly aggregates derived from
    daily, derived from hourly, derived from raw — never re-reading the
    raw events for the coarser grains. Legal exactly because every
    aggregate here is MERGEABLE (counts/sums/max in exact integer
    centi-units); this is the continuous-aggregate / materialized-rollup
    maintenance pattern, where each grain is a stored table refreshed
    from the grain below at a fraction of the raw-scan cost.

    Scale shape: the only raw-data pass is the hourly aggregate (one
    map-combined shuffle on (user, hour)); each subsequent grain
    reduces the previous one's already-small output. The oracle
    recomputes the same cascade — and `hourly_rollup`'s independent
    direct-from-raw query pins the base grain."""
    e = _read(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("long")
    hourly = (
        e.select("user_id", F.date_trunc("hour", "ts").alias("h"), vc.alias("vc"))
        .groupBy("user_id", "h")
        .agg(F.count("*").alias("n"), F.sum("vc").alias("s"), F.max("vc").alias("mx"))
    )
    daily = (
        hourly.withColumn("d", F.col("h").cast("date"))
        .groupBy("user_id", "d")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"), F.max("mx").alias("mx"))
    )
    return (
        daily.withColumn("month", F.date_format("d", "yyyy-MM"))
        .groupBy("user_id", "month")
        .agg(
            F.sum("n").alias("n_obs"),
            F.sum("s").alias("sum_value_c"),
            F.max("mx").alias("max_value_c"),
        )
        .select("user_id", "month", "n_obs", "sum_value_c", "max_value_c")
    )


def _rocchio_sql() -> str:
    """Oracle for nearest-centroid classification. Centroid means
    accumulate as exact integer micro-units; BOTH the unit-normalized
    vector and the unit-normalized centroid are then re-quantized to
    1e6 integer micro-units, so the scoring dot is an exact,
    order-free BIGINT sum (a float dot under a GROUP BY would depend on
    each engine's scan order). cos_sim := dot_q / 1e12 rounded to 6."""
    return f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         unnest(list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))) AS vc
  FROM embeddings),
cent AS (
  SELECT label, dim,
         CAST(SUM(vc) AS DOUBLE) / (COUNT(*) * 1000000.0) AS c
  FROM ex GROUP BY label, dim),
cnorm AS (
  SELECT label, sqrt(SUM(c * c)) AS nrm FROM cent GROUP BY label),
cu AS (
  SELECT c.label, c.dim,
         CAST(floor(c.c / n.nrm * 1000000) AS BIGINT) AS cq
  FROM cent c JOIN cnorm n ON c.label = n.label),
vn AS (
  SELECT vec_id, label AS true_label,
         generate_subscripts(embedding, 1) AS dim,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_reduce(list_transform(embedding,
               y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (p, q) -> p + q))))
           AS vv
  FROM embeddings
  WHERE {_ph.duck_nonzero_norm('embedding')}),
vq AS (
  SELECT vec_id, true_label, dim,
         CAST(floor(vv * 1000000) AS BIGINT) AS vq
  FROM vn),
scored AS (
  SELECT v.vec_id, v.true_label, c.label AS cand,
         CAST(SUM(v.vq * c.cq) AS BIGINT) AS dot_q
  FROM vq v JOIN cu c ON v.dim = c.dim
  GROUP BY v.vec_id, v.true_label, c.label),
pick AS (
  SELECT vec_id, true_label, cand AS pred_label,
         round(CAST(dot_q AS DOUBLE) / 1000000000000, 6) AS cos_sim,
         row_number() OVER (
             PARTITION BY vec_id ORDER BY dot_q DESC, cand ASC) AS rn
  FROM scored)
SELECT vec_id, CAST(pred_label AS INT) AS pred_label, cos_sim,
       CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS INT)
         AS correct
FROM pick WHERE rn = 1"""


@_q("rocchio_classify", _rocchio_sql())
def q_rocchio_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: every vector assigned
    to the label whose mean-vector centroid it is most cosine-similar
    to — the third classical classifier next to kNN voting
    (`knn_label_vote`) and graph spreading (`label_spreading`).
    Centroid means accumulate as exact integer micro-units; the scoring
    dot re-quantizes BOTH unit vectors to 1e6 micro-units so it is an
    exact order-free BIGINT sum (a float dot under a hash aggregate
    would depend on partial-aggregation order); argmax on the integer
    dot, ties -> smallest label.

    Scale shape: the centroid build is `label_centroids`'s exploded
    hash aggregate (|labels| x dim rows); the classification is a map
    side cosine against the BROADCAST centroid matrix (|labels| x dim
    literals — dim-bounded, corpus-independent); one rank window per
    vector over |labels| rows. Vectors never shuffle."""
    from aqi_featurestore_spark.operators.embeddings import label_centroids

    e = _read(spark, sf_dir, "embeddings")
    cent = label_centroids(e)  # (label, dim, centroid double, n)
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("centroid") * F.col("centroid"))).alias("nrm")
    )
    cu = cent.join(cnorm, "label").select(
        F.col("label").alias("cand"),
        "dim",
        F.floor(F.col("centroid") / F.col("nrm") * 1_000_000).cast("long").alias("cq"),
    )
    from aqi_featurestore_spark.operators.similarity import _normalized

    vn = _normalized(
        e, ["vec_id", F.col("label").alias("true_label")], "embedding", "v"
    )
    # explode each vector against the broadcast centroid rows on dim;
    # both sides quantized, so the dot is an exact integer sum
    vdim = vn.select(
        "vec_id", "true_label", F.posexplode("v").alias("dim0", "vv")
    ).select(
        "vec_id", "true_label", F.col("dim0").alias("dim"),
        F.floor(F.col("vv") * 1_000_000).cast("long").alias("vq"),
    )
    scored = (
        vdim.join(F.broadcast(cu), "dim")
        .groupBy("vec_id", "true_label", "cand")
        .agg(F.sum(F.col("vq") * F.col("cq")).alias("dot_q"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot_q"), F.asc("cand"))
    return (
        scored.select(
            "vec_id", "true_label",
            F.col("cand").alias("pred_label"),
            F.round(F.col("dot_q").cast("double") / 1_000_000_000_000, 6).alias("cos_sim"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("pred_label").cast("int").alias("pred_label"),
            "cos_sim",
            (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


_DOC_KEYWORDS_SQL = r"""
WITH tokv AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokv GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.token, t.tf, d.df,
         round(t.tf * ln(CAST(nd.n AS DOUBLE) / d.df), 6) AS tfidf
  FROM tf t JOIN df d ON t.token = d.token CROSS JOIN nd)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rk
  FROM scored) t
WHERE rk <= 3"""


@_q("doc_keywords", _DOC_KEYWORDS_SQL)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf-idf per doc
    (ties: token asc) — the row-level complement of the corpus-global
    `tfidf_top_terms`, and what a retrieval/tagging pipeline actually
    stores per document. Same float discipline: one ln() per (doc,
    token) with pinned operand order, rounded BEFORE the per-doc rank.

    Scale shape: tf is a (doc, token) hash aggregate; df joins back on
    the token key (AQE splits stopword skew); the rank window partitions
    by doc_id — millions of small partitions, never a global sort. The
    1-row doc count broadcasts."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tf = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "token", "tf", "df",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.select(
            "doc_id", "token", "tf", "df", "tfidf",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


_STAR_EXPORT_SQL = """
SELECT l.l_orderkey, l.l_linenumber,
       CAST(round(l.l_quantity, 0) AS BIGINT) AS qty,
       CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS price_c,
       o.o_orderstatus, o.o_orderpriority,
       c.c_mktsegment,
       cn.n_name AS cust_nation,
       p.p_brand, p.p_type,
       s.s_name AS supp_name,
       sn.n_name AS supp_nation
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
JOIN part p      ON l.l_partkey = p.p_partkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'"""


@_q("star_denormalize", _STAR_EXPORT_SQL)
def q_star_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide-table EXPORT path: denormalize the full star schema
    around lineitem (orders + customer + both nation roles + part +
    supplier) into one training-ready frame — what a feature-store
    offline export materializes before model training. The one
    fact-to-fact join (lineitem x date-pruned orders) shuffles on
    orderkey; every true dim (customer, part, supplier, nation twice
    under different roles) BROADCASTS against the stream, so the fact
    shuffles exactly once and each scan reads only its projected
    columns (ReadSchema-pruned)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_c"),
    )
    o = (
        _read(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    )
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_name")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            "l_orderkey", "l_linenumber", "qty", "price_c",
            "o_orderstatus", "o_orderpriority", "c_mktsegment",
            "cust_nation", "p_brand", "p_type",
            F.col("s_name").alias("supp_name"), "supp_nation",
        )
    )


_LS_ITERS = 3


def _label_spread_sql() -> str:
    """Unrolled label-spreading oracle: seeds (vec_id % 10 = 0) hold
    their label; each round an unlabeled node adopts the majority label
    among its labeled neighbors (ties -> smallest label)."""
    its = []
    prev = "l0"
    for i in range(1, _LS_ITERS + 1):
        its.append(f"""v{i} AS (
  SELECT e.dst AS vec_id, l.lab, COUNT(*) AS c
  FROM edges e JOIN {prev} l ON e.src = l.vec_id AND l.lab IS NOT NULL
  GROUP BY e.dst, l.lab),
p{i} AS (
  SELECT vec_id, lab FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c DESC, lab) AS rn
    FROM v{i}) t WHERE rn = 1),
l{i} AS (
  SELECT prev.vec_id, COALESCE(prev.lab, p.lab) AS lab
  FROM {prev} prev LEFT JOIN p{i} p ON prev.vec_id = p.vec_id)""")
        prev = f"l{i}"
    return f"""WITH pairs AS MATERIALIZED ({approx_oracles.embedding_cosine_lsh_sql(threshold=0.25)}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL SELECT d2, d1 FROM pairs),
l0 AS (
  SELECT vec_id,
         CASE WHEN vec_id % 10 = 0 THEN CAST(label AS INT) END AS lab
  FROM embeddings),
{", ".join(its)}
SELECT l.vec_id, l.lab AS pred_label,
       CASE WHEN l.vec_id % 10 = 0 THEN 'seed' ELSE 'spread' END AS src,
       CAST(CASE WHEN l.lab = e.label THEN 1 ELSE 0 END AS INT) AS correct
FROM {prev} l JOIN embeddings e ON l.vec_id = e.vec_id
WHERE l.lab IS NOT NULL"""


@_q("label_spreading", _label_spread_sql())
def q_label_spreading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading over the embedding similarity
    graph: 10% of vectors keep their true label as seeds; 3
    rounds of majority vote among labeled neighbors (deterministic ties:
    most votes, then smallest label) extend labels along LSH cosine
    edges. Votes are exact integer counts — no damping floats — so the
    final assignment is bit-reproducible and the unrolled recursive
    oracle hash-matches. ``correct`` scores spread labels against the
    held-out truth: the weak-supervision quality loop.

    Scale shape: like PageRank, the edge list localCheckpoints once
    (referenced every round); each round is one labeled-neighbor join +
    a (node, label) vote aggregate + a rank window — all keyed on
    vec_id-domain pairs, never vectors."""
    e = _read(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(
        e, threshold=0.25, lsh=True, n_planes=32, bands=4
    ).select("d1", "d2")
    edges = (
        pairs.union(pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        .select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .localCheckpoint()
    )
    from aqi_featurestore_spark.operators.graph import spread_labels

    seeds = e.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 0, F.col("label").cast("int")).alias("lab"),
    )
    labels = spread_labels(edges, seeds, iters=_LS_ITERS)
    truth = e.select(F.col("vec_id").alias("t_id"), F.col("label").alias("true_label"))
    return (
        labels.where(F.col("lab").isNotNull())
        .join(truth, labels["vec_id"] == truth["t_id"])
        .select(
            "vec_id",
            F.col("lab").alias("pred_label"),
            F.when(F.col("vec_id") % 10 == 0, "seed").otherwise("spread").alias("src"),
            (F.col("lab") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


_AB_TEST_SQL = r"""
WITH assign AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         CAST(max(CASE WHEN event_type = 'purchase' AND "value" >= 150
                       THEN 1 ELSE 0 END) AS INT) AS converted
  FROM events GROUP BY user_id),
arms AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS conv
  FROM assign GROUP BY arm),
wide AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
         max(CASE WHEN arm = 0 THEN conv END) AS c0,
         max(CASE WHEN arm = 1 THEN n END) AS n1,
         max(CASE WHEN arm = 1 THEN conv END) AS c1
  FROM arms)
SELECT CAST(n0 AS BIGINT) AS n0, c0, CAST(n1 AS BIGINT) AS n1, c1,
       round(CAST(c0 AS DOUBLE) / n0, 6) AS p0,
       round(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
       round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)), 6)
         AS z_score
FROM wide"""


@_q("ab_test_zscore", _AB_TEST_SQL)
def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: two-proportion z-test on per-user conversion
    (converted = any HIGH-VALUE purchase, value >= 150 — a non-trivial
    rate; a degenerate 0%/100% pooled rate makes z undefined in any
    engine) between arms assigned by a deterministic hash split
    (user_id % 2 — rerun/repartition-stable, the property real
    assignment systems need). Counts are exact integers; the
    pooled-variance z formula is evaluated in doubles with IDENTICAL
    operand order in both engines and rounded to 6 dp.

    Scale shape: per-user conversion is one map-combined aggregate, the
    arm rollup is 2 rows, and the final pivot/z computation is a 1-row
    frame — nothing after the first aggregate is data-sized."""
    e = _read(spark, sf_dir, "events")
    hit = (F.col("event_type") == "purchase") & (F.col("value") >= 150)
    assign = e.groupBy("user_id").agg(
        F.max(F.when(hit, 1).otherwise(0)).cast("int").alias("converted")
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "converted")
    arms = assign.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").cast("long").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pp * (1 - pp)
        * (F.lit(1).cast("double") / F.col("n0") + F.lit(1).cast("double") / F.col("n1"))
    )
    return wide.select(
        F.col("n0").cast("long").alias("n0"), "c0",
        F.col("n1").cast("long").alias("n1"), "c1",
        F.round(p0, 6).alias("p0"),
        F.round(p1, 6).alias("p1"),
        F.round(z, 6).alias("z_score"),
    )


_MARKET_BASKET_SQL = r"""
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
pc AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS p1, c.l_partkey AS p2, COUNT(*) AS pair_cnt
  FROM b a JOIN b c
    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
scored AS (
  SELECT p.p1, p.p2, p.pair_cnt,
         round(CAST(p.pair_cnt * n.n_orders AS DOUBLE) / (c1.c * c2.c), 6)
           AS lift
  FROM pairs p
  JOIN pc c1 ON p.p1 = c1.l_partkey
  JOIN pc c2 ON p.p2 = c2.l_partkey
  CROSS JOIN n)
SELECT p1, p2, pair_cnt, lift, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (ORDER BY lift DESC, p1, p2) AS rk
  FROM scored) t
WHERE rk <= 100"""


@_q("market_basket", _MARKET_BASKET_SQL)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining (market basket): top-100 part pairs by LIFT —
    P(p1,p2) / (P(p1)P(p2)) — over co-occurrence in the same order, with
    min support pair_cnt >= 3. Lift is one double division rounded
    BEFORE ranking (tie-break p1, p2) so a sub-ulp divergence can't
    reorder the board.

    Scale shape: the within-order self-join is bounded by order SIZE
    (baskets are small — the classic a-priori observation), never a
    corpus cross product; pair counts partial-aggregate map-side; the
    marginals join is on single part keys; global top-100 compiles to
    TakeOrderedAndProject."""
    b = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = b.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    pc = b.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a, c = b.alias("a"), b.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("c.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 3)
    )
    scored = (
        pairs.join(
            pc.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1")), "p1"
        )
        .join(pc.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2")), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1", "p2", "pair_cnt",
            F.round(
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("c1") * F.col("c2")),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(F.desc("lift"), F.asc("p1"), F.asc("p2")).limit(100)
    w = Window.orderBy(F.desc("lift"), F.asc("p1"), F.asc("p2"))
    return top.select(
        "p1", "p2", "pair_cnt", "lift", F.row_number().over(w).cast("int").alias("rk")
    )


_WEIGHTED_MEDIAN_SQL = r"""
WITH o AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS vc,
         CAST(round(l_quantity, 0) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem WHERE l_quantity > 0),
c AS (
  SELECT *, SUM(w) OVER (PARTITION BY grp ORDER BY vc, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY grp) AS tw
  FROM o)
SELECT grp, CAST(min(vc) AS BIGINT) AS median_price_c,
       CAST(min(tw) AS BIGINT) AS total_w
FROM c WHERE 2 * cw >= tw GROUP BY grp"""


@_q("weighted_median", _WEIGHTED_MEDIAN_SQL)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group (price weighted by quantity): the
    first value whose cumulative weight reaches half the group total —
    all integer arithmetic (centi-prices, integer weights, the 2*cw >= tw
    test avoids any division), deterministic under the pinned
    (vc, orderkey, linenumber) total order.

    Scale shape: one sort per group partition (same documented
    small-group exact variant as group_median — approx_percentile is
    the billion-row path), one running-sum window sharing that sort,
    then a hash aggregate."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    o = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("vc"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("w"),
        "l_orderkey", "l_linenumber",
    )
    word = Window.partitionBy("grp").orderBy("vc", "l_orderkey", "l_linenumber")
    c = o.select(
        "grp", "vc",
        F.sum("w").over(word.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(Window.partitionBy("grp")).alias("tw"),
    )
    return (
        c.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(
            F.min("vc").alias("median_price_c"),
            F.min("tw").alias("total_w"),
        )
    )


_BENFORD_P = [__import__("math").log10(1 + 1 / d) for d in range(1, 10)]

_BENFORD_SQL = f"""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice > 0),
d AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM v),
cnt AS (SELECT digit, COUNT(*) AS obs FROM d GROUP BY digit),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cnt),
exp AS (
  SELECT * FROM (VALUES {", ".join(f"({i + 1}, CAST({p!r} AS DOUBLE))" for i, p in enumerate(_BENFORD_P))})
  AS t(digit, p))
SELECT e.digit, COALESCE(c.obs, 0) AS obs,
       round(e.p, 6) AS exp_p,
       round((COALESCE(c.obs, 0) - t.n * e.p) * (COALESCE(c.obs, 0) - t.n * e.p)
             / (t.n * e.p), 6) AS chi_term
FROM exp e LEFT JOIN cnt c ON e.digit = c.digit CROSS JOIN tot t
ORDER BY e.digit"""


@_q("benford_audit", _BENFORD_SQL)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over monetary amounts — the classic
    fabricated-data detector: observed first-digit counts vs the Benford
    expectation log10(1+1/d), with per-digit chi-square terms. The
    expected probabilities are PYTHON-computed literals embedded in BOTH
    plans (repr round-trips doubles exactly), so the only runtime float
    work is the identically-ordered chi term, rounded to 6 dp.

    Scale shape: first digit via integer-to-string prefix (exact in any
    engine — no log10 on data), one map-combined 9-group aggregate, a
    1-row total broadcast; output is always exactly 9 rows."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_extendedprice") > 0)
    c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = li.select(F.substring(c.cast("string"), 1, 1).cast("int").alias("digit"))
    cnt = d.groupBy("digit").agg(F.count("*").alias("obs"))
    tot = cnt.agg(F.sum("obs").cast("long").alias("n"))
    exp = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(_BENFORD_P)], "digit int, p double"
    )
    obs = F.coalesce("obs", F.lit(0))
    return (
        exp.join(F.broadcast(cnt), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            obs.alias("obs"),
            F.round("p", 6).alias("exp_p"),
            F.round(
                (obs - F.col("n") * F.col("p"))
                * (obs - F.col("n") * F.col("p"))
                / (F.col("n") * F.col("p")),
                6,
            ).alias("chi_term"),
        )
        .orderBy("digit")
    )


# Station coordinates derived from md5(user_id) in integer MICRO-degrees
# over the reference's northern-Vietnam AQI grid extent (SURVEY §1:
# lat 19.5-23.5, lon 102-108.5) — the testdata schema has no coords, so
# both engines derive identical ones.
_LAT_DUCK = (
    "(19500000 + ("
    + _ph.duck_hex_int("md5('lat|' || CAST(user_id AS VARCHAR))", 1, 8)
    + ") % 4000000)"
)
_LON_DUCK = (
    "(102000000 + ("
    + _ph.duck_hex_int("md5('lon|' || CAST(user_id AS VARCHAR))", 1, 8)
    + ") % 6500000)"
)
_CELL_UDEG = 500_000  # 0.5 degree blocking cells

_NEAREST_STATION_SQL = f"""
WITH s AS (
  SELECT DISTINCT user_id AS sid FROM events),
pt AS (
  SELECT sid, {_LAT_DUCK.replace("user_id", "sid")} AS lat_u,
         {_LON_DUCK.replace("user_id", "sid")} AS lon_u
  FROM s),
cells AS (
  SELECT p.*, (p.lat_u // {_CELL_UDEG}) + dy AS cy,
         (p.lon_u // {_CELL_UDEG}) + dx AS cx
  FROM pt p
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) a
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) b),
home AS (
  SELECT sid, lat_u, lon_u,
         lat_u // {_CELL_UDEG} AS cy, lon_u // {_CELL_UDEG} AS cx
  FROM pt),
cand AS (
  SELECT h.sid, c.sid AS nbr,
         (h.lat_u - c.lat_u) * (h.lat_u - c.lat_u)
         + (h.lon_u - c.lon_u) * (h.lon_u - c.lon_u) AS dist2
  FROM home h JOIN cells c ON h.cy = c.cy AND h.cx = c.cx AND h.sid <> c.sid),
ranked AS (
  SELECT sid, nbr, CAST(dist2 AS BIGINT) AS dist2_udeg2,
         row_number() OVER (
             PARTITION BY sid ORDER BY dist2, nbr) AS rk
  FROM (SELECT DISTINCT sid, nbr, dist2 FROM cand) t)
SELECT sid, nbr, dist2_udeg2, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3"""


@_q("nearest_station_join", _NEAREST_STATION_SQL)
def q_nearest_station_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-nearest-neighbor join (k=3) over the sensor-station
    grid via CELL BLOCKING: each station only compares against stations
    whose 0.5-degree cell is within its 3x3 neighborhood — the spatial
    analogue of LSH banding that replaces the O(n^2) distance scan with
    an equi-join on cell ids. Distances are exact integer squared
    micro-degrees (equirectangular — honest at this extent; no float
    trig). Recall bound, like every blocked method here: a true
    neighbor farther than one cell (0.5 deg) away is not surfaced.

    Scale shape: each station explodes to its 9 neighbor cells (the
    build side), the probe side keeps one row per station; the join key
    is a fixed-width (cy, cx) pair and AQE splits dense-city cells. At
    100 TB-of-stations this is the standard geospatial bin join."""
    s = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("sid")
    ).distinct()
    lat = 19_500_000 + _ph.md5_int32(F.concat(F.lit("lat|"), F.col("sid").cast("string"))) % 4_000_000
    lon = 102_000_000 + _ph.md5_int32(F.concat(F.lit("lon|"), F.col("sid").cast("string"))) % 6_500_000
    pt = s.select("sid", lat.alias("lat_u"), lon.alias("lon_u"))
    offs = F.array(*[F.lit(v) for v in (-1, 0, 1)])
    cells = pt.select(
        "sid", "lat_u", "lon_u",
        F.explode(offs).alias("dy"),
    ).select(
        "sid", "lat_u", "lon_u", "dy", F.explode(offs).alias("dx")
    ).select(
        F.col("sid").alias("c_sid"),
        F.col("lat_u").alias("c_lat"),
        F.col("lon_u").alias("c_lon"),
        (F.expr(f"lat_u div {_CELL_UDEG}") + F.col("dy")).alias("cy"),
        (F.expr(f"lon_u div {_CELL_UDEG}") + F.col("dx")).alias("cx"),
    )
    home = pt.select(
        "sid", "lat_u", "lon_u",
        F.expr(f"lat_u div {_CELL_UDEG}").alias("cy"),
        F.expr(f"lon_u div {_CELL_UDEG}").alias("cx"),
    )
    dist2 = (F.col("lat_u") - F.col("c_lat")) * (F.col("lat_u") - F.col("c_lat")) + (
        F.col("lon_u") - F.col("c_lon")
    ) * (F.col("lon_u") - F.col("c_lon"))
    cand = (
        home.join(cells, ["cy", "cx"])
        .where(F.col("sid") != F.col("c_sid"))
        .select("sid", F.col("c_sid").alias("nbr"), dist2.alias("dist2"))
        .dropDuplicates(["sid", "nbr"])
    )
    w = Window.partitionBy("sid").orderBy(F.asc("dist2"), F.asc("nbr"))
    return (
        cand.select(
            "sid", "nbr", F.col("dist2").cast("long").alias("dist2_udeg2"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


_LTTB_SQL = r"""
WITH mn AS (SELECT user_id, epoch_us(min(ts)) AS x0 FROM events GROUP BY user_id),
o AS (
  SELECT e.user_id, time_bucket(INTERVAL '1 hour', e.ts) AS bucket,
         e.ts, e.event_id,
         epoch_us(e.ts) - m.x0 AS x,
         CAST(round(e."value" * 100, 0) AS BIGINT) AS vc
  FROM events e JOIN mn m ON e.user_id = m.user_id),
bstats AS (
  SELECT user_id, bucket, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(vc) AS BIGINT) AS sy
  FROM o GROUP BY user_id, bucket),
bseq AS (
  SELECT *, lag(n) OVER w AS pn, lag(sx) OVER w AS psx, lag(sy) OVER w AS psy,
         lead(n) OVER w AS nn, lead(sx) OVER w AS nsx, lead(sy) OVER w AS nsy
  FROM bstats WINDOW w AS (PARTITION BY user_id ORDER BY bucket)),
cand AS (
  SELECT o.user_id, o.bucket, o.ts, o.event_id, o.vc, o.x,
         b.pn, b.psx, b.psy, b.nn, b.nsx, b.nsy
  FROM o JOIN bseq b ON o.user_id = b.user_id AND o.bucket = b.bucket),
picked AS (
  SELECT user_id, bucket, event_id, vc,
         CASE WHEN pn IS NULL THEN 'first'
              WHEN nn IS NULL THEN 'last'
              ELSE 'area' END AS kind,
         row_number() OVER (
           PARTITION BY user_id, bucket
           ORDER BY
             CASE WHEN pn IS NULL THEN x
                  WHEN nn IS NULL THEN -x
                  ELSE -abs((x * pn - psx) * (nsy * pn - psy * nn)
                            - (nsx * pn - psx * nn) * (vc * pn - psy)) END,
             ts, event_id) AS rn
  FROM cand)
SELECT user_id, bucket, event_id, vc, kind
FROM picked WHERE rn = 1"""


@_q("lttb_downsample", _LTTB_SQL)
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (fixed-anchor
    variant) per entity: one representative point per hour bucket — the
    one spanning the largest triangle against the NEIGHBOR buckets'
    centroids (series first/last buckets keep their first/last point,
    as in Steinarsson's original). Exact LTTB anchors on the previously
    SELECTED point, a sequential dependency; anchoring on the previous
    bucket's centroid is the standard parallel relaxation — every
    bucket picks independently.

    The triangle area is computed in EXACT integers: x is microseconds
    from the entity's first observation (offset keeps products inside
    int64), y is centi-value; the centroid fractions are cleared by
    scaling the cross product with pn^2*nn (constant within a bucket,
    so the argmax is unchanged). Integer-range bound: the scaled area
    is O(span_us * vc_max * n_bucket^2); a runtime guard (double-mirrored
    products vs 4e18) raises loudly on buckets dense enough to overflow
    int64 — matching DuckDB's native overflow error instead of Spark's
    silent wraparound — at which point the caller pre-aggregates to
    finer buckets. Shapes: one (user, bucket)
    aggregate, one bucket-sequence window, one (user, bucket) candidate
    join + one rank window on the same key — fact rows shuffle twice."""
    e = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mn = e.groupBy("user_id").agg(F.min(us).alias("x0"))
    step = 3_600_000_000
    bucket = F.timestamp_micros((F.floor(us / F.lit(step)) * F.lit(step)).cast("long"))
    o = (
        e.join(F.broadcast(mn), "user_id")
        .select(
            "user_id",
            bucket.alias("bucket"),
            "ts",
            "event_id",
            (us - F.col("x0")).alias("x"),
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
    )
    bstats = o.groupBy("user_id", "bucket").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"), F.sum("vc").alias("sy")
    )
    wseq = Window.partitionBy("user_id").orderBy("bucket")
    bseq = bstats.select(
        "user_id", "bucket",
        F.lag("n").over(wseq).alias("pn"),
        F.lag("sx").over(wseq).alias("psx"),
        F.lag("sy").over(wseq).alias("psy"),
        F.lead("n").over(wseq).alias("nn"),
        F.lead("sx").over(wseq).alias("nsx"),
        F.lead("sy").over(wseq).alias("nsy"),
    )
    cand = o.join(bseq, ["user_id", "bucket"])
    # Overflow guard: DuckDB raises on int64 overflow natively, Spark
    # (ANSI off) wraps silently — so mirror the two products in DOUBLE
    # (cannot overflow) and fail loudly before a wrapped area could
    # silently change which point wins. 4e18 leaves a 2x margin under
    # int64 max against double rounding; measured sf0.1 max is ~2.3e16.
    t12d = (F.col("x").cast("double") * F.col("pn") - F.col("psx")) * (
        F.col("nsy").cast("double") * F.col("pn")
        - F.col("psy").cast("double") * F.col("nn")
    )
    t34d = (
        F.col("nsx").cast("double") * F.col("pn")
        - F.col("psx").cast("double") * F.col("nn")
    ) * (F.col("vc").cast("double") * F.col("pn") - F.col("psy"))
    overflow_risk = (
        F.col("pn").isNotNull()
        & F.col("nn").isNotNull()
        & (F.greatest(F.abs(t12d), F.abs(t34d)) > F.lit(4.0e18))
    )
    cand = cand.where(
        F.when(
            overflow_risk,
            F.raise_error(
                "lttb_downsample: scaled triangle area would exceed int64 "
                "(bucket too dense) — pre-aggregate to finer buckets"
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    area = F.abs(
        (F.col("x") * F.col("pn") - F.col("psx"))
        * (F.col("nsy") * F.col("pn") - F.col("psy") * F.col("nn"))
        - (F.col("nsx") * F.col("pn") - F.col("psx") * F.col("nn"))
        * (F.col("vc") * F.col("pn") - F.col("psy"))
    )
    order_key = (
        F.when(F.col("pn").isNull(), F.col("x"))
        .when(F.col("nn").isNull(), -F.col("x"))
        .otherwise(-area)
    )
    wpick = Window.partitionBy("user_id", "bucket").orderBy(
        order_key.asc(), F.asc("ts"), F.asc("event_id")
    )
    kind = (
        F.when(F.col("pn").isNull(), "first")
        .when(F.col("nn").isNull(), "last")
        .otherwise("area")
    )
    return (
        cand.select(
            "user_id", "bucket", "event_id", "vc", kind.alias("kind"),
            F.row_number().over(wpick).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_HOURLY_ROLLUP_SQL = r"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       user_id,
       count(*) AS n_obs,
       CAST(SUM(CAST(round("value" * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_c,
       max("value") AS max_value
FROM events GROUP BY 1, 2, 3"""


@_q("hourly_rollup", _HOURLY_ROLLUP_SQL)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window per-entity rollup (the hypertable-rollup shape;
    streaming analogue of the reference's hourly cadence, ST4). Integer
    centi-sums keep the aggregate summation-order independent."""
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_c"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_obs",
            "sum_value_c",
            "max_value",
        )
    )


_DEDUP_RESOLVE_SQL = f"""
WITH RECURSIVE pairs AS ({_NGRAM_JACCARD_SQL}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
groups AS (
  SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a)
SELECT d.doc_id, d.lang, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM groups)
   OR d.doc_id IN (SELECT doc_id FROM groups WHERE doc_id = group_id)"""


@_q("dedup_resolve_docs", _DEDUP_RESOLVE_SQL)
def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup lifecycle: n-gram Jaccard pairs -> connected
    components (label propagation) -> keep the min-id canonical doc per
    cluster + all unimplicated docs. The oracle computes the same
    components with a recursive CTE (transitive closure). Round-12: the
    labels are the session-shared `ngram_cc_labels` (identical detector
    + loop, built once per session; the survivor logic below is
    `resolve_duplicates` verbatim)."""
    from aqi_featurestore_spark.plans._base import ngram_cc_labels

    d = _read(spark, sf_dir, "documents")
    groups = ngram_cc_labels(spark, sf_dir)
    survivors = groups.where(F.col("doc_id") == F.col("group_id")).select("doc_id")
    implicated = groups.select("doc_id")
    untouched = d.join(
        implicated, d["doc_id"] == implicated["doc_id"], "left_anti"
    )
    kept = d.join(survivors, d["doc_id"] == survivors["doc_id"], "left_semi")
    return untouched.unionByName(kept).select("doc_id", "lang", "n_chars")


@_q("minhash_verified_dedup", approx_oracles.minhash_verified_sql())
def q_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dedup shape: MinHash-LSH candidate generation +
    exact Jaccard verification per candidate — the output carries TRUE
    jaccard values. The oracle regenerates the md5-affine candidates and
    verifies with string-shingle sets; pytest additionally pins agreement
    with the exact n-gram oracle on every surfaced pair."""
    from aqi_featurestore_spark.operators.near_dedup import minhash_verified_pairs

    d = _read(spark, sf_dir, "documents")
    return minhash_verified_pairs(d, threshold=0.3)


@_q("incremental_dedup", approx_oracles.minhash_incremental_sql())
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion gate: every 10th-ish doc (doc_id % 10 = 7)
    plays the incoming batch, the rest the already-deduped corpus; output
    is the (new, corpus) near-dup pairs with TRUE verified Jaccard that
    an anti-join would use to admit only novel docs. Candidates come from
    cross-set MinHash banding only — corpus x corpus pairs are never
    generated, so per-batch cost scales with the batch."""
    from aqi_featurestore_spark.operators.near_dedup import minhash_incremental_pairs

    d = _read(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 7
    return minhash_incremental_pairs(
        d.where(is_new), d.where(~is_new), threshold=0.3
    )


_SPLIT_SQL = r"""
SELECT event_id, user_id,
       CASE WHEN (4096 * (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1)
                +  256 * (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1)
                +   16 * (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1)
                +        (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 4, 1)) - 1))
              < 52428 THEN 'train' ELSE 'test' END AS split
FROM events"""


@_q("train_test_split", _SPLIT_SQL)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 split labels from md5(event_id) — no RNG, no
    shuffle, engine-portable (oracle parses the same 4 hex digits)."""
    from aqi_featurestore_spark.operators.split import with_split_label

    events = _read(spark, sf_dir, "events")
    return with_split_label(
        events.select("event_id", "user_id"), "event_id", train_fraction=0.8
    )


_MODEL_METRICS_SQL = f"""{_PIT_CTES},
valid AS (SELECT * FROM pit WHERE aqi IS NOT NULL),
lagged AS (
  SELECT entity_id, aqi,
         lag(aqi, 1) OVER (
           PARTITION BY entity_id
           ORDER BY floor(epoch(event_timestamp)) + hour * 3600,
                    event_timestamp) AS yhat
  FROM valid),
p AS (SELECT aqi AS y, yhat FROM lagged WHERE yhat IS NOT NULL),
s1 AS (
  SELECT CAST(SUM(CAST(round(abs(y - yhat) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s_abs,
         CAST(SUM(CAST(round((y - yhat) * (y - yhat) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s_sq,
         CAST(SUM(CAST(round(y * 1000000, 0) AS BIGINT)) AS BIGINT) AS s_y,
         COUNT(*) AS n
  FROM p),
m AS (SELECT CAST(s_y AS DOUBLE) / 1000000 / n AS y_mean FROM s1),
s2 AS (
  SELECT CAST(SUM(CAST(round((y - y_mean) * (y - y_mean) * 1000000, 0) AS BIGINT)) AS BIGINT) AS s_tot
  FROM p CROSS JOIN m)
SELECT CAST(s_abs AS DOUBLE) / 1000000 / n AS mae,
       sqrt(CAST(s_sq AS DOUBLE) / 1000000 / n) AS rmse,
       1.0 - (CAST(s_sq AS DOUBLE) / 1000000) / (CAST(s_tot AS DOUBLE) / 1000000) AS r2,
       n
FROM s1 CROSS JOIN s2"""


@_q("model_metrics", _MODEL_METRICS_SQL)
def q_model_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: MAE/RMSE/R2 of the naive last-hour-persistence predictor over
    the PIT training frame — two distributed aggregations, 6-dp integer
    accumulation (summation-order independent; same value in any engine)."""
    from aqi_featurestore_spark.functions.metrics import regression_metrics

    frame = pipeline.training_set(spark, sf_dir)
    return regression_metrics(frame, y="aqi", yhat="last_hour_aqi")


_FUNNEL_SQL = r"""
WITH e AS (SELECT user_id, ts, event_type FROM events),
w1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id) AS v1 FROM e),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > v1 THEN ts END)
              OVER (PARTITION BY user_id) AS c1 FROM w1),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > c1 THEN ts END)
              OVER (PARTITION BY user_id) AS p1 FROM w2),
u AS (SELECT user_id, max(v1) AS v1, max(c1) AS c1, max(p1) AS p1
      FROM w3 GROUP BY user_id)
SELECT CAST(CASE WHEN p1 IS NOT NULL THEN 3
                 WHEN c1 IS NOT NULL THEN 2
                 WHEN v1 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage,
       count(*) AS n_users
FROM u GROUP BY 1"""


@_q("funnel_analysis", _FUNNEL_SQL)
def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase, strictly
    increasing timestamps): per-user stage reached, counted per stage.

    The chained "first event of type X after the previous stage" mins
    are three Window aggregates over the SAME user_id partitioning —
    Catalyst plans one Exchange and stacks the Window operators on it,
    and the final per-user group reuses that partitioning too, so the
    funnel costs one shuffle of (user_id, ts, type) rows plus the
    trivial 4-row stage rollup (verified: 2 Exchanges, 3 Windows).
    At 100 TB the big shuffle carries three narrow columns, nothing
    else."""
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = events.select("user_id", "ts", "event_type")
    d = e.withColumn(
        "v1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    d = d.withColumn(
        "c1",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("v1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "p1",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c1")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.max("v1").alias("v1"), F.max("c1").alias("c1"), F.max("p1").alias("p1")
    )
    stage = (
        F.when(F.col("p1").isNotNull(), 3)
        .when(F.col("c1").isNotNull(), 2)
        .when(F.col("v1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    return per_user.groupBy(stage.alias("stage")).agg(F.count("*").alias("n_users"))


_RETENTION_SQL = r"""
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT user_id, min(d) AS d0 FROM act GROUP BY user_id),
j AS (
  SELECT DISTINCT a.user_id, f.d0,
         CAST(floor(date_diff('day', f.d0, a.d) / 7) AS INT) AS week_offset
  FROM act a JOIN f ON a.user_id = f.user_id)
SELECT strftime(d0, '%Y-%m-%d') AS cohort_day, week_offset,
       count(*) AS n_active
FROM j GROUP BY 1, 2"""


@_q("retention_cohorts", _RETENTION_SQL)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, counted
    once per week-offset in which they were active. The activity
    distinct, the first-seen aggregate, the join, and the per-(user,
    week) distinct all key on user_id, so one shuffle partitioning is
    reused end-to-end; only the final small (cohort, week) rollup
    re-keys. Cohort day is emitted as a string — DATE columns render
    differently across engines (memory rule), strings hash identically."""
    events = _read(spark, sf_dir, "events")
    act = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("d0"))
    j = (
        act.join(first, "user_id")
        .select(
            "user_id",
            "d0",
            F.floor(F.datediff("d", "d0") / 7).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return j.groupBy(
        F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"), "week_offset"
    ).agg(F.count("*").alias("n_active"))


_DOC_CHUNKS_SQL = r"""
WITH d AS (
  SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) >= 1),
c AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(floor((len - 1) / 400) AS BIGINT) + 1)) AS i
  FROM d)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(i * 400 + 1 AS INT) AS chunk_start,
       CAST(length(substr(text, CAST(i * 400 + 1 AS INT), 500)) AS INT) AS chunk_len,
       md5(substr(text, CAST(i * 400 + 1 AS INT), 500)) AS chunk_md5
FROM c"""


@_q("doc_chunks", _DOC_CHUNKS_SQL)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (size 500 chars, stride 400 —
    the context-window prep step that complements `sequence_packing`'s
    concat-and-chunk): each document explodes into ceil(len/stride)
    chunks entirely map-side — no shuffle, no window, the chunk count
    derives from the row itself. Chunk identity is pinned by md5 so the
    oracle verifies the exact substring boundaries, including the
    short final chunk."""
    docs = _read(spark, sf_dir, "documents")
    d = docs.where(F.length("text") >= 1)
    n_last = F.floor((F.length("text") - 1) / 400).cast("int")
    c = d.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), n_last)).alias("i")
    )
    start = (F.col("i") * 400 + 1).cast("int")
    chunk = F.substring("text", start, 500)
    return c.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_id"),
        start.alias("chunk_start"),
        F.length(chunk).cast("int").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )



_VOCAB_SQL = rf"""
WITH {_TOKENS},
cnt AS (
  SELECT token, count(*) AS cf, count(DISTINCT doc_id) AS df
  FROM tokv GROUP BY token)
SELECT token, cf, df, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (ORDER BY cf DESC, token ASC) AS rk FROM cnt) t
WHERE rk <= 1000"""


@_q("vocab_top_terms", _VOCAB_SQL)
def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build: corpus frequency + document frequency
    per whitespace token, global top-1000 with deterministic (cf desc,
    token asc) tie-break.

    The global top-k is the scale trap here: a row_number window with no
    partition key collapses to one task over the whole vocabulary.
    Instead ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge — and only the 1000 surviving
    rows see the (tiny, deliberate) ranking window."""
    docs = _read(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tok = docs.select("doc_id", F.explode(tokens).alias("token"))
    cnt = tok.groupBy("token").agg(
        F.count("*").alias("cf"), F.countDistinct("doc_id").alias("df")
    )
    top = cnt.orderBy(F.desc("cf"), F.asc("token")).limit(1000)
    w = Window.orderBy(F.desc("cf"), F.asc("token"))
    return top.select(
        "token", "cf", "df", F.row_number().over(w).cast("int").alias("rk")
    )


_TFIDF_SQL = rf"""
WITH {_TOKENS},
tf AS (SELECT doc_id, token, count(*) AS tf FROM tokv GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n FROM documents),
s AS (
  SELECT f.doc_id, f.token, f.tf, d.df,
         round(f.tf * ln((n.n + 1.0) / (d.df + 1.0)), 6) AS score
  FROM tf f JOIN dfreq d USING (token) CROSS JOIN n)
SELECT doc_id, token, tf, df, score, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
  FROM s) t
WHERE rk <= 3"""


@_q("tfidf_top_terms", _TFIDF_SQL)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document. df comes from the tf frame
    (one groupBy(token) over per-doc counts — never a second corpus
    tokenization), the corpus size N is a 1-row aggregate broadcast into
    the score (no driver action), and ranking is a per-doc window —
    partitioned, unlike the vocabulary's global one. Scores are rounded
    to 6 dp BEFORE ranking so a sub-ulp ln() difference can't reorder
    ties across engines (token breaks exact ties)."""
    docs = _read(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tok = docs.select("doc_id", F.explode(tokens).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    s = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        s.select("*", F.row_number().over(w).cast("int").alias("rk"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "score", "rk")
    )


_SNAPSHOT_DIFF_SQL = r"""
WITH o AS (
  SELECT doc_id, md5(text) AS old_fp FROM documents WHERE doc_id % 13 <> 5),
n AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS new_fp
  FROM documents WHERE doc_id % 17 <> 3)
SELECT * FROM (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp,
         CASE WHEN o.old_fp IS NULL THEN 'added'
              WHEN n.new_fp IS NULL THEN 'removed'
              WHEN o.old_fp <> n.new_fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) t
WHERE status <> 'unchanged'"""


@_q("snapshot_diff_docs", _SNAPSHOT_DIFF_SQL)
def q_snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC delta between two simulated corpus snapshots (additions =
    doc_id % 13 = 5 missing from old, deletions = % 17 = 3 missing from
    new, edits = % 7 = 0 text-mutated): `operators.cdc.snapshot_diff`
    full-outer-joins (key, md5 fingerprint) projections — bodies never
    shuffle — and emits only churn rows."""
    from aqi_featurestore_spark.operators.cdc import snapshot_diff

    docs = _read(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 13 != 5).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(
        old, new, key_cols=["doc_id"], fingerprint=F.md5(F.col("text"))
    )

from aqi_featurestore_spark.functions.layout import duck_zorder_key2 as _duck_z

_ZORDER_SQL = (
    "SELECT event_id, x, y, "
    + _duck_z("x", "y")
    + """ AS z
FROM (SELECT event_id, user_id % 65536 AS x,
             (epoch_us(ts) // 3600000000) % 65536 AS y
      FROM events) t"""
)


@_q("zorder_keys", _ZORDER_SQL)
def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, event-hour) — the
    write-side layout step behind multi-dimension file pruning
    (`functions.layout.zorder_layout` range-partitions on this key).
    Pure codegen'd bit interleaving; the oracle recomputes every bit.
    Hour derives via integer division of epoch microseconds (`div`) —
    float division could round the boundary differently per engine."""
    from aqi_featurestore_spark.functions.layout import zorder_key2

    events = _read(spark, sf_dir, "events")
    t = events.select(
        "event_id",
        (F.col("user_id") % 65536).alias("x"),
        (F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 65536).alias("y"),
    )
    return t.select("event_id", "x", "y", zorder_key2("x", "y").alias("z"))


