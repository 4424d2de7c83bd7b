"""Corpus curation and statistics: top-p selection, token commonness,
centroids, quantization, inverted index, seasonal anomalies, digests,
transitions, exact medians, graph triangles, weighted sampling, PMI,
CMS heavy hitters, PageRank, Bloom gate, LM familiarity, reservoir,
rolling DAU, BM25 top-k, bucketizer, policy dedup, skew report, HLL
audits/rollups, padding-efficiency audit, KMV bottom-k set algebra.

Registration is via the shared ``@_q`` registry in plans/_base.py.
Reference citations live on each query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aqi_featurestore_spark.functions import portable_hash as _ph
from aqi_featurestore_spark.plans import approx_oracles
from aqi_featurestore_spark.operators.near_dedup import minhash_signatures
from aqi_featurestore_spark.operators.similarity import embedding_cosine_pairs
from aqi_featurestore_spark.plans._base import _NGRAM_JACCARD_SQL, _TOKENS, _q, _read


# ---------------------------------------------------------------------------
# LLM-pipeline round 2: corpus curation, corpus-LM stats, embedding
# maintenance, inverted index, seasonal anomalies
# ---------------------------------------------------------------------------

_TOPP_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / n_chars AS score
  FROM documents WHERE n_chars > 0),
rk AS (
  SELECT doc_id, lang, score,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM scored)
SELECT doc_id, lang, score, rn FROM rk WHERE rn * 5 <= n_lang"""


@_q("corpus_select_topp", _TOPP_SQL)
def q_corpus_select_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated corpus selection: keep the top 20% of documents per
    language by alphabetic-character ratio — the curation step that
    picks a training subset. The cut is integer (rn*5 <= n_lang, floor
    semantics) and the rank ordering is (score desc, doc_id) so ties
    are deterministic. Both window functions share one (lang) partition
    spec — a single sort. Scale: the sort is per-language (bounded
    partitions), not global; at 100 TB swap row_number for a two-pass
    quantile cut (corpus_quantiles) if a single language dominates."""
    docs = _read(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    score = (
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("double")
        / F.col("n_chars")
    ).alias("score")
    scored = docs.select("doc_id", "lang", score)
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    wc = Window.partitionBy("lang")
    rk = scored.select(
        "doc_id",
        "lang",
        "score",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(wc).alias("n_lang"),
    )
    return rk.where(F.col("rn") * 5 <= F.col("n_lang")).select(
        "doc_id", "lang", "score", "rn"
    )


_COMMONNESS_SQL = rf"""
WITH {_TOKENS},
cf AS (SELECT token, COUNT(*) AS cf FROM tokv GROUP BY token)
SELECT t.doc_id, COUNT(*) AS n_tokens, CAST(SUM(c.cf) AS BIGINT) AS sum_cf,
       CAST(SUM(c.cf) AS DOUBLE) / COUNT(*) AS mean_cf
FROM tokv t JOIN cf c USING (token)
GROUP BY t.doc_id"""


@_q("token_commonness", _COMMONNESS_SQL)
def q_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM document scoring (unigram shape): build corpus term
    frequencies, join them back onto every token occurrence, and reduce
    per document — mean corpus frequency of a doc's tokens is the
    boilerplate/jargon signal (high = stopword soup, low = rare-token
    text). Two shuffles (token, then doc_id), both on fixed-width keys;
    the frequency table stays distributed (no driver vocab). The sum is
    exact int64, the mean a single final division — order-free, so it
    hash-matches the oracle. The log-prob variant is the same plan with
    a log lookup on cf; mean_cf is kept ulp-exact instead."""
    docs = _read(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tok = docs.select("doc_id", F.explode(tokens).alias("token"))
    cf = tok.groupBy("token").agg(F.count("*").alias("cf"))
    return (
        tok.join(cf, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cf").alias("sum_cf"),
            (F.sum("cf").cast("double") / F.count("*")).alias("mean_cf"),
        )
    )


_CENTROIDS_SQL = """
SELECT label, CAST(ord - 1 AS INT) AS dim,
       CAST(s AS DOUBLE) / (n * 1000000.0) AS centroid, n
FROM (
  SELECT label, ord,
         SUM(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM (SELECT label, generate_subscripts(embedding, 1) AS ord,
               unnest(embedding) AS v
        FROM embeddings) x
  GROUP BY label, ord) agg"""


@_q("cluster_centroids", _CENTROIDS_SQL)
def q_cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (IVF/k-means centroid refresh as a pure
    DataFrame reduction — operators/embeddings.py label_centroids).
    Components accumulate as exact integer micro-units so the reduce is
    order-free; one posexplode + one hash aggregate; output is
    |labels| x dim rows, exploded precisely so a second engine can
    verify every component."""
    from aqi_featurestore_spark.operators.embeddings import label_centroids

    e = _read(spark, sf_dir, "embeddings")
    return label_centroids(e, vec_col="embedding", label_col="label")


_QUANTIZE_SQL = """
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS ord,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
st AS (SELECT ord, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY ord)
SELECT x.vec_id, CAST(x.ord - 1 AS INT) AS dim,
       CAST(CASE WHEN st.mx = st.mn THEN 0
                 ELSE least(floor((x.v - st.mn) / (st.mx - st.mn) * 255.0), 255)
            END AS INT) AS code
FROM x JOIN st USING (ord)"""


@_q("embedding_quantize", _QUANTIZE_SQL)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8-style quantization against corpus per-dimension
    min/max (operators/embeddings.py quantize_embeddings) — the 4x
    index-compression pass before ANN serving. The stats aggregate
    reduces to exactly dim rows before a driver collect (bounded by
    dimensionality, NOT corpus size); the per-vector map is one JVM
    transform against broadcast literal arrays — vectors never shuffle.
    Output exploded to (vec_id, dim, code) for exact cross-engine
    verification."""
    from aqi_featurestore_spark.operators.embeddings import quantize_embeddings

    e = _read(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e, id_col="vec_id", vec_col="embedding")
    return q.select(
        "vec_id", F.posexplode(F.col("codes")).alias("dim", "code")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "code")


_INV_INDEX_SQL = rf"""
WITH {_TOKENS},
tokd AS (SELECT DISTINCT token, doc_id FROM tokv),
pst AS (
  SELECT token, COUNT(*) AS df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM tokd GROUP BY token)
SELECT token, df, postings FROM pst WHERE df >= 5 AND df <= 1000"""


@_q("inverted_index", _INV_INDEX_SQL)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> sorted distinct posting list (as a
    CSV string so both engines hash the same bytes) + document
    frequency, banded to 5 <= df <= 1000 — stopword postings are useless
    and unbounded, hapaxes are noise. The distinct and the groupBy share
    the (token, doc_id) -> (token) shuffle chain; postings assemble via
    sort_array(collect_list) per token, bounded by the df cap. The
    retrieval side of the corpus (contamination_check is the lookup
    consumer)."""
    docs = _read(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tokd = docs.select(
        F.explode(tokens).alias("token"), "doc_id"
    ).distinct()
    pst = tokd.groupBy("token").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda d: d.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return pst.where((F.col("df") >= 5) & (F.col("df") <= 1000))


_SEASONAL_SQL = """
WITH c AS (
  SELECT event_id, event_type, CAST(hour(ts) AS INT) AS hr,
         CAST(round("value" * 100, 0) AS BIGINT) AS vc
  FROM events),
st AS (
  SELECT event_type, hr, COUNT(*) AS n,
         CAST(CAST(SUM(vc) AS BIGINT) AS DOUBLE) AS sd,
         CAST(CAST(SUM((vc * vc) // 100000) AS BIGINT) AS DOUBLE) * 100000.0
           + CAST(CAST(SUM((vc * vc) % 100000) AS BIGINT) AS DOUBLE) AS sqd
  FROM c GROUP BY event_type, hr),
z AS (
  SELECT c.event_id, c.event_type, c.hr, c.vc, st.n,
         (c.vc - sd / n)
           / sqrt((sqd - sd * (sd / n)) / (n - 1)) AS zscore
  FROM c JOIN st USING (event_type, hr) WHERE st.n > 1)
SELECT event_id, event_type, hr, CAST(vc AS DOUBLE) / 100.0 AS value,
       round(zscore, 6) AS zscore
FROM z WHERE abs(zscore) > 3.0"""


@_q("seasonal_anomalies", _SEASONAL_SQL)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: per (event_type,
    hour-of-day) mean/stddev baseline, flag rows beyond 3 sigma. The
    baseline is a tiny aggregate (types x 24 rows) broadcast back onto
    the fact — the monitoring pattern for cyclic metrics. Moments
    accumulate as exact int64 (sd directly; the squared moment in TWO
    limbs — hi = vc^2 div 1e5, lo = vc^2 mod 1e5 — reconstructed in
    pinned double order, because a wide-decimal sum past 2^63 narrows
    to double differently across engines and a 1-ulp sqd shift could
    flip a row across the 3-sigma cut). m = sd/n; var =
    (sqd - sd*m)/(n-1); zscore rounds to 6 dp only at output."""
    e = _read(spark, sf_dir, "events")
    c = e.select(
        "event_id",
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    # vc <= ~5e4 so vc^2 <= ~2.5e9 < 2^53: exact limb split via %-and-divide
    sq = F.col("vc") * F.col("vc")
    sq_lo = sq % 100_000
    sq_hi = ((sq - sq_lo) / 100_000).cast("long")
    st = c.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"),
        F.sum("vc").cast("double").alias("sd"),
        (
            F.sum(sq_hi).cast("double") * F.lit(100_000.0)
            + F.sum(sq_lo).cast("double")
        ).alias("sqd"),
    )
    m = F.col("sd") / F.col("n")
    var = (F.col("sqd") - F.col("sd") * m) / (F.col("n") - 1)
    z = (
        c.join(F.broadcast(st), ["event_type", "hr"])
        .where(F.col("n") > 1)
        .withColumn("zscore", (F.col("vc") - m) / F.sqrt(var))
    )
    return z.where(F.abs(F.col("zscore")) > 3.0).select(
        "event_id",
        "event_type",
        "hr",
        (F.col("vc").cast("double") / 100.0).alias("value"),
        F.round("zscore", 6).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# Batch 3: integrity digests, sequence transitions, exact medians,
# graph triangles, weighted sampling, PMI collocations, dedup audit
# ---------------------------------------------------------------------------

_DIGEST_SQL = f"""
WITH h AS (
  SELECT source, lang,
         md5(CAST(doc_id AS VARCHAR) || '|' || text) AS m
  FROM documents),
v AS (SELECT source, lang, {_ph.duck_md5_int63('m')} AS hh FROM h)
SELECT source, lang, COUNT(*) AS n_rows,
       CAST(CAST(SUM(hh) AS DECIMAL(38,0)) AS VARCHAR) AS digest
FROM v GROUP BY source, lang"""


@_q("partition_digest", _DIGEST_SQL)
def q_partition_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digest per (source, lang) partition — the anti-entropy /
    table-sync primitive: two replicas compare digests and ship only
    divergent partitions (the Merkle-tree leaf level). The digest is a
    SUM of per-row md5-derived 63-bit integers — commutative, so it is
    independent of row order and partitioning (a float or concat digest
    would not be), and accumulates in DECIMAL(38) so it never overflows.
    Emitted as a string: the value is an opaque fingerprint, and both
    engines print decimals identically."""
    docs = _read(spark, sf_dir, "documents")
    h = _ph.md5_int63(
        F.concat_ws("|", F.col("doc_id").cast("string"), F.col("text"))
    )
    return (
        docs.select("source", "lang", h.alias("hh"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("hh").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("digest"),
        )
    )


_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events),
cnt AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type)
SELECT event_type, next_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY event_type) AS prob
FROM cnt"""


@_q("event_transitions", _TRANSITIONS_SQL)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() within (user, time) order, count per (from, to),
    row-normalized to probabilities. The normalizing SUM is a window
    over the already-aggregated |types|^2 frame — negligible. Sequence
    order ties break on event_id, so the lead chain is deterministic.
    The session-path model behind next-event prediction features."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    cnt = seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    return cnt.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("prob"),
    )


_GROUP_MEDIAN_SQL = """
WITH c AS (
  SELECT event_type, CAST(round("value" * 100, 0) AS BIGINT) AS vc
  FROM events)
SELECT event_type,
       quantile_cont(vc, 0.25) / 100.0 AS p25,
       quantile_cont(vc, 0.50) / 100.0 AS p50,
       quantile_cont(vc, 0.75) / 100.0 AS p75
FROM c GROUP BY event_type"""


@_q("group_median", _GROUP_MEDIAN_SQL)
def q_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quartiles with linear interpolation. Parity
    subtlety: Spark computes (1-g)*lo + g*hi, DuckDB lo + (hi-lo)*g —
    different FP expressions, but over integer cents with g in
    {0, .25, .5, .75} every term is exactly representable, so both
    reduce to the same rational and the doubles agree bit-for-bit
    (this would NOT survive raw-double inputs or arbitrary g). Exact
    percentile sorts each group — the scale path is approx_quantiles
    (KLL/GK sketch); this is the small-group exact variant."""
    e = _read(spark, sf_dir, "events")
    c = e.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("vc")
    )
    return c.groupBy("event_type").agg(
        (F.percentile("vc", 0.25) / 100.0).alias("p25"),
        (F.percentile("vc", 0.50) / 100.0).alias("p50"),
        (F.percentile("vc", 0.75) / 100.0).alias("p75"),
    )


_EMB_NORM_SUB = f"""(SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) /
                 sqrt(list_reduce(
                   list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                   (p, q) -> p + q))) AS v
        FROM embeddings
        WHERE {_ph.duck_nonzero_norm('embedding')})"""

_TRIANGLE_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM {_EMB_NORM_SUB} a
  JOIN {_EMB_NORM_SUB} b
    ON a.vec_id < b.vec_id
  WHERE round(list_reduce(list_transform(range(1, len(a.v) + 1),
                                         i -> a.v[i] * b.v[i]), (p, q) -> p + q), 6) >= 0.85)
SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*)
        FROM pairs p1 JOIN pairs p2 ON p2.d1 = p1.d2
        JOIN pairs p3 ON p3.d1 = p1.d1 AND p3.d2 = p2.d2) AS n_triangles"""


@_q("similarity_triangles", _TRIANGLE_SQL)
def q_similarity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the cosine-similarity graph (>= 0.85) — the
    clustering-coefficient numerator; high triangle density means the
    near-dup clusters are tight (transitive), low means chains that
    connected-components would over-merge. Edges satisfy d1 < d2, so
    each triangle a<b<c is counted exactly once via the two-join
    pattern (ab, bc, ac). The edge list is computed once and reused
    across the three join legs (exchange reuse); joins are on bare int
    ids — the vectors never enter the triangle phase."""
    e = _read(spark, sf_dir, "embeddings")
    # The edge list feeds three join legs; without a cut Spark recomputes
    # the full O(n^2) cosine subtree once per leg (exchange reuse can't
    # fire across the differing join keys). localCheckpoint materializes
    # the (tiny) edge list once — same pattern as connected_components.
    pairs = (
        embedding_cosine_pairs(e, threshold=0.85, lsh=False)
        .select("d1", "d2")
        .localCheckpoint()
    )
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    tri = (
        p1.join(p2, F.col("p2.d1") == F.col("p1.d2"))
        .join(
            p3,
            (F.col("p3.d1") == F.col("p1.d1")) & (F.col("p3.d2") == F.col("p2.d2")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = pairs.agg(F.count("*").alias("n_edges"))
    return edges.crossJoin(tri)


_WEIGHTED_SAMPLE_SQL = f"""
WITH mx AS (SELECT MAX(n_chars) AS m FROM documents),
h AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS md
      FROM documents)
SELECT h.doc_id, h.n_chars
FROM h CROSS JOIN mx
WHERE {_ph.duck_hex_int('md', 1, 8)} * mx.m < h.n_chars * 4294967296"""


@_q("weighted_sample", _WEIGHTED_SAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep each doc with
    probability n_chars / max(n_chars) — longer documents
    proportionally more likely, the standard size-biased curation
    sampler. The coin is md5(doc_id) as a 32-bit uniform, and the
    comparison is integer cross-multiplication (u * max < w * 2^32) —
    no doubles, so reproducible in any engine AND stable under re-runs
    / repartitioning (rand() would be neither). The global max is a
    1-row broadcast cross join, never a driver action."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mx = docs.agg(F.max("n_chars").alias("m"))
    u = _ph.md5_int32(F.col("doc_id").cast("string"))
    return (
        docs.crossJoin(F.broadcast(mx))
        .where(u * F.col("m") < F.col("n_chars") * F.lit(4294967296))
        .select("doc_id", "n_chars")
    )


_PMI_SQL = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents),
tokp AS (
  SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS token
  FROM arr),
uni AS (SELECT token, COUNT(*) AS c FROM tokp GROUP BY token),
nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
big AS (
  SELECT t1.token AS t1, t2.token AS t2, COUNT(*) AS n
  FROM tokp t1 JOIN tokp t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  GROUP BY t1.token, t2.token),
nb AS (SELECT CAST(SUM(n) AS BIGINT) AS nb FROM big),
scored AS (
  SELECT b.t1, b.t2, b.n,
         round(ln((CAST(b.n AS DOUBLE) / nb.nb)
                  / ((CAST(u1.c AS DOUBLE) / nu.nu)
                     * (CAST(u2.c AS DOUBLE) / nu.nu))), 6) AS pmi
  FROM big b
  JOIN uni u1 ON u1.token = b.t1
  JOIN uni u2 ON u2.token = b.t2
  CROSS JOIN nu CROSS JOIN nb
  WHERE b.n >= 5)
SELECT t1, t2, n, pmi, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, t1 ASC, t2 ASC) AS rk
  FROM scored) t
WHERE rk <= 100"""


@_q("bigram_pmi", _PMI_SQL)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by pointwise mutual information over
    adjacent token bigrams (n >= 5): the phrase-mining pass that feeds
    tokenizer merges. Bigrams come from zip_with of the token array
    against its own tail (no positional self-join on the Spark side —
    that's the oracle's shape); unigram marginals join back on each
    side; PMI is computed in doubles with pinned operand order and
    rounded to 6 dp BEFORE ranking (tie-break t1, t2) so a sub-ulp
    ln() divergence can't reorder the board — same discipline as
    tfidf_top_terms. Global top-k via TakeOrderedAndProject, window
    only over the 100 survivors."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    arr = docs.select(F.col("doc_id"), toks.alias("a"))
    bigrams = F.zip_with(
        F.expr("slice(a, 1, size(a) - 1)"),
        F.expr("slice(a, 2, size(a) - 1)"),
        lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
    )
    tok = arr.select(F.explode("a").alias("token"))
    uni = tok.groupBy("token").agg(F.count("*").alias("c"))
    nu = uni.agg(F.sum("c").cast("bigint").alias("nu"))
    big = (
        arr.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 5)
    )
    nb = (
        arr.select((F.size("a") - 1).alias("k"))
        .where(F.col("k") > 0)
        .agg(F.sum("k").cast("bigint").alias("nb"))
    )
    scored = (
        big.join(uni.withColumnRenamed("token", "t1").withColumnRenamed("c", "c1"), "t1")
        .join(uni.withColumnRenamed("token", "t2").withColumnRenamed("c", "c2"), "t2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "t1",
            "t2",
            "n",
            F.round(
                F.log(
                    (F.col("n").cast("double") / F.col("nb"))
                    / (
                        (F.col("c1").cast("double") / F.col("nu"))
                        * (F.col("c2").cast("double") / F.col("nu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("t1"), F.asc("t2")).limit(100)
    w = Window.orderBy(F.desc("pmi"), F.asc("t1"), F.asc("t2"))
    return top.select(
        "t1", "t2", "n", "pmi", F.row_number().over(w).cast("int").alias("rk")
    )


_CMS_W, _CMS_D = 512, 4
_CMS_FAM = _ph.hash_family(_CMS_D, seed=0xC31)

_CMS_SQL = rf"""
WITH tokv AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS token
  FROM documents),
t1 AS (SELECT token, md5(token) AS h, COUNT(*) AS true_cnt FROM tokv GROUP BY token),
hbase AS (
  SELECT token, true_cnt,
         ({_ph.duck_hex_int('h', 1, 8)}) % {_ph.MERSENNE31} AS hb
  FROM t1),
fam AS (
  SELECT * FROM (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_FAM))})
  AS t(j, a, b)),
occ AS (SELECT h.hb FROM tokv v JOIN hbase h USING (token)),
cms AS (
  SELECT f.j, ((f.a * o.hb + f.b) % {_ph.MERSENNE31}) % {_CMS_W} AS col,
         COUNT(*) AS c
  FROM occ o CROSS JOIN fam f GROUP BY 1, 2),
probe AS (
  SELECT h.token, h.true_cnt, f.j,
         ((f.a * h.hb + f.b) % {_ph.MERSENNE31}) % {_CMS_W} AS col
  FROM hbase h CROSS JOIN fam f),
est AS (
  SELECT p.token, p.true_cnt, MIN(c.c) AS est
  FROM probe p JOIN cms c ON p.j = c.j AND p.col = c.col
  GROUP BY 1, 2),
tot AS (SELECT COUNT(*) AS n FROM tokv)
SELECT token, CAST(est AS BIGINT) AS est, CAST(true_cnt AS BIGINT) AS true_cnt
FROM est CROSS JOIN tot
WHERE est * 256 >= n
ORDER BY est DESC, token ASC"""


@_q("cms_heavy_hitters", _CMS_SQL)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters over corpus tokens: a 4x512
    sketch (affine universal hashes over the 32-bit md5 base — the same
    portable family as MinHash, so the DuckDB oracle rebuilds every cell
    bit-for-bit), point-queried for every distinct token; tokens whose
    CMS estimate clears total/256 are reported with their exact count
    alongside (est >= true always — the CMS one-sided error).

    Scale shape: the SKETCH is the point. The cms table is at most
    d x w = 2048 cells regardless of corpus size — it broadcasts, so
    the estimate join is map-side; the only corpus-proportional shuffles
    are the token count aggregates (map-combined, fixed-width keys).
    The threshold compare is integer cross-multiplication (est*256 >=
    total) against a 1-row broadcast scalar — no floats anywhere in the
    operator."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tok = _read(spark, sf_dir, "documents").select(F.explode(toks).alias("token"))
    hb = (_ph.md5_int32("token") % F.lit(_ph.MERSENNE31)).alias("hb")

    def cols(hb_col):
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (_ph.affine(hb_col, a, b) % F.lit(_CMS_W)).alias("col"),
                )
                for j, (a, b) in enumerate(_CMS_FAM)
            ]
        )

    occ = tok.select(hb)
    cms = (
        occ.select(F.explode(cols(F.col("hb"))).alias("e"))
        .select("e.j", "e.col")
        .groupBy("j", "col")
        .agg(F.count("*").alias("c"))
    )
    per_tok = tok.groupBy("token").agg(F.count("*").alias("true_cnt"))
    probe = per_tok.select(
        "token", "true_cnt", F.explode(cols(_ph.md5_int32("token") % F.lit(_ph.MERSENNE31))).alias("e")
    ).select("token", "true_cnt", "e.j", "e.col")
    est = (
        probe.join(F.broadcast(cms), ["j", "col"])
        .groupBy("token", "true_cnt")
        .agg(F.min("c").alias("est"))
    )
    tot = tok.agg(F.count("*").alias("n"))
    return (
        est.crossJoin(F.broadcast(tot))
        .where(F.col("est") * 256 >= F.col("n"))
        .select("token", "est", "true_cnt")
        .orderBy(F.desc("est"), F.asc("token"))
    )


_PR_SCALE = 1_000_000_000_000  # rank mass in integer micro-units
_PR_ITERS = 5


def _pagerank_sql() -> str:
    """Unrolled integer PageRank oracle: 5 iterations of
    rank' = (3*SCALE) // (20*n) + (17 * sum(rank//deg over in-edges)) // 20
    (d = 0.85 = 17/20 kept rational; every op is integral division on
    positive integers, identical semantics in Spark's `div` and
    DuckDB's `//`)."""
    its = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""it{i} AS (
  SELECT d.node, d.deg,
         CAST((3 * {_PR_SCALE}) // (20 * nn.n)
              + (17 * COALESCE(s.s, 0)) // 20 AS BIGINT) AS rank
  FROM deg d CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS node, SUM(r.rank // r.deg) AS s
             FROM edges e JOIN {prev} r ON e.src = r.node
             GROUP BY e.dst) s ON s.node = d.node)""")
        prev = f"it{i}"
    return f"""WITH pairs AS MATERIALIZED ({approx_oracles.embedding_cosine_lsh_sql()}),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL SELECT d2, d1 FROM pairs),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT node, deg, CAST({_PR_SCALE} // nn.n AS BIGINT) AS rank
       FROM deg CROSS JOIN nn),
{", ".join(its)}
SELECT CAST(node AS BIGINT) AS node, rank AS rank_u
FROM {prev} ORDER BY rank_u DESC, node ASC"""


@_q("similarity_pagerank", _pagerank_sql())
def q_similarity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality over the embedding similarity graph: 5
    PageRank iterations (d = 17/20) on the symmetrized LSH cosine-pair
    edges, in EXACT integer arithmetic — ranks live in 1e12 micro-units
    and every damping/contribution step is integral division, so the
    rank vector is bit-identical across engines, partitionings, and
    reruns (a float PageRank could never hash-match an oracle).

    Scale shape: fixed-iteration rounds over (node, deg, rank) triples;
    the 1-row node count broadcasts; edges shuffle once per round on
    src/dst (bare id pairs). The edge list is localCheckpoint-ed once —
    the plan references it 6 times (5 contribution rounds + degrees),
    and without the lineage cut each reference would re-run the whole
    LSH pair pipeline (sketch UDF included)."""
    e = _read(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(
        e, threshold=0.4, lsh=True, n_planes=32, bands=4
    ).select("d1", "d2")
    edges = (
        pairs.union(pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        .select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .localCheckpoint()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    nn = deg.agg(F.count("*").alias("n"))
    base = deg.crossJoin(F.broadcast(nn))
    ranks = base.select(
        "node", "deg", "n", F.expr(f"{_PR_SCALE} div n").alias("rank")
    )
    for _ in range(_PR_ITERS):
        msgs = edges.join(ranks, edges["src"] == ranks["node"]).select(
            F.col("dst").alias("node"), F.expr("rank div deg").alias("c")
        )
        s = msgs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            base.join(s, "node", "left")
            .select(
                "node",
                "deg",
                "n",
                (
                    F.expr(f"(3 * {_PR_SCALE}) div (20 * n)")
                    + F.expr("(17 * coalesce(s, 0)) div 20")
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.col("rank").alias("rank_u")).orderBy(
        F.desc("rank_u"), F.asc("node")
    )


# m deliberately undersized for the corpus (~0.6 fill) so the
# deterministic false-positive set is non-empty and visible in output.
_BLOOM_M, _BLOOM_K = 2048, 4
_BLOOM_FAM = _ph.hash_family(_BLOOM_K, seed=0xB100)

_BLOOM_SQL = rf"""
WITH d0 AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
d AS (SELECT doc_id, ({_ph.duck_hex_int('h', 1, 8)}) % {_ph.MERSENNE31} AS hb FROM d0),
fam AS (
  SELECT * FROM (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_BLOOM_FAM))})
  AS t(j, a, b)),
corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
newb AS (SELECT * FROM d WHERE doc_id % 10 = 7),
bits AS (
  SELECT DISTINCT ((f.a * c.hb + f.b) % {_ph.MERSENNE31}) % {_BLOOM_M} AS bit
  FROM corpus c CROSS JOIN fam f),
probe AS (
  SELECT n.doc_id, n.hb,
         ((f.a * n.hb + f.b) % {_ph.MERSENNE31}) % {_BLOOM_M} AS bit
  FROM newb n CROSS JOIN fam f),
hit AS (
  SELECT p.doc_id,
         CAST(MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS INT) AS maybe_dup
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.doc_id)
SELECT h.doc_id, h.maybe_dup,
       CAST(CASE WHEN EXISTS (
         SELECT 1 FROM corpus c JOIN newb n2 ON c.hb = n2.hb
         WHERE n2.doc_id = h.doc_id) THEN 1 ELSE 0 END AS INT) AS exact_dup
FROM hit h"""


@_q("bloom_dedup_gate", _BLOOM_SQL)
def q_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingestion gate: probe each new-batch document's
    content fingerprint against a 4-hash / 2048-bit Bloom
    filter of the corpus. ``maybe_dup`` is the Bloom answer (one-sided:
    never 0 for a true duplicate; deterministic false positives the
    oracle reproduces bit-for-bit via the same affine family);
    ``exact_dup`` is the ground truth, so the query also EXHIBITS the
    false-positive set (maybe_dup=1, exact_dup=0).

    Scale shape: the filter is the point — the corpus collapses to at
    most m distinct set-bit rows (a map-combined distinct), which
    broadcast; probing is a map-side left join + per-doc min. The
    exact-dup leg is a fingerprint semi-join (fixed-width keys). At
    100 TB the bits table would be built once and reused per batch."""
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        (_ph.md5_int32(F.lower(F.trim(F.col("text")))) % F.lit(_ph.MERSENNE31)).alias("hb"),
    )
    corpus = d.where(F.col("doc_id") % 10 != 7)
    newb = d.where(F.col("doc_id") % 10 == 7)

    def bits_arr(hb_col):
        return F.array(
            *[
                (_ph.affine(hb_col, a, b) % F.lit(_BLOOM_M)).alias(f"b{j}")
                for j, (a, b) in enumerate(_BLOOM_FAM)
            ]
        )

    bits = (
        corpus.select(F.explode(bits_arr(F.col("hb"))).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    probe = newb.select("doc_id", "hb", F.explode(bits_arr(F.col("hb"))).alias("bit"))
    hit = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id", "hb")
        .agg(F.min(F.coalesce("present", F.lit(0))).cast("int").alias("maybe_dup"))
    )
    exact = corpus.select(F.col("hb").alias("c_hb")).distinct()
    return (
        hit.join(F.broadcast(exact), hit["hb"] == exact["c_hb"], "left")
        .select(
            "doc_id",
            "maybe_dup",
            F.when(F.col("c_hb").isNotNull(), 1).otherwise(0).cast("int").alias("exact_dup"),
        )
    )


_BIGRAM_FAM_SQL = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents),
tokp AS (
  SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS token
  FROM arr),
bg AS (
  SELECT t1.doc_id, t1.token AS t1, t2.token AS t2
  FROM tokp t1 JOIN tokp t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
df AS (
  SELECT t1, t2, COUNT(DISTINCT doc_id) AS df
  FROM bg GROUP BY t1, t2),
per AS (
  SELECT b.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM bg b JOIN df d ON b.t1 = d.t1 AND b.t2 = d.t2
  GROUP BY b.doc_id)
SELECT doc_id, n_bigrams, n_common,
       round(CAST(n_common AS DOUBLE) / n_bigrams, 6) AS familiarity
FROM per"""


@_q("bigram_familiarity", _BIGRAM_FAM_SQL)
def q_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score per document: the fraction of a doc's
    adjacent-token bigram occurrences that also appear in at least one
    OTHER document (document frequency >= 2). Garbled / machine-mangled
    text scores low; natural prose scores high — the exact-integer
    stand-in for an n-gram LM perplexity filter (counts and the df
    threshold are integers end-to-end; the single final division is the
    only float op, so the score is engine-reproducible bit-for-bit).

    Scale shape: bigrams explode once from the token-array zip (no
    positional self-join — that's the oracle's shape); df is a distinct
    + count keyed on the bigram; the join back to occurrences is an
    equi-join on the same key (AQE splits the boilerplate-bigram skew);
    per-doc reduction is a hash aggregate. Token arrays never shuffle."""
    docs = _read(spark, sf_dir, "documents")
    # spread before the bigram explode (see lm_perplexity_score note)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    bigrams = F.zip_with(
        F.expr("slice(a, 1, size(a) - 1)"),
        F.expr("slice(a, 2, size(a) - 1)"),
        lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
    )
    bg = (
        docs.select(F.col("doc_id"), toks.alias("a"))
        .where(F.size("a") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.t1").alias("t1"), F.col("b.t2").alias("t2"))
    )
    df = (
        bg.dropDuplicates(["doc_id", "t1", "t2"])
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("df"))
    )
    per = (
        bg.join(df, ["t1", "t2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_common"),
        )
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        "n_common",
        F.round(F.col("n_common").cast("double") / F.col("n_bigrams"), 6).alias(
            "familiarity"
        ),
    )


_CLUSTER_SIZES_SQL = f"""
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
  SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a),
sizes AS (SELECT group_id, COUNT(*) AS cluster_size FROM groups GROUP BY group_id)
SELECT cluster_size, COUNT(*) AS n_clusters
FROM sizes GROUP BY cluster_size"""


@_q("dedup_cluster_sizes", _CLUSTER_SIZES_SQL)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit: histogram of duplicate-cluster sizes (clusters of
    >= 2 near-identical docs from the exact n-gram Jaccard graph).
    The report a curation run publishes — 'how much of the corpus is
    duplicated, and in how big clumps'. Components via label
    propagation; both follow-up aggregates reduce tiny frames. Oracle
    recomputes components with a recursive CTE. Round-12: the labels
    are the session-shared `ngram_cc_labels` (same detector, same loop,
    built once per session)."""
    from aqi_featurestore_spark.plans._base import ngram_cc_labels

    comp = ngram_cc_labels(spark, sf_dir)
    sizes = comp.groupBy("group_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))


# ---------------------------------------------------------------------------
# Deterministic per-group reservoir sample; rolling distinct-user window
# ---------------------------------------------------------------------------

_RESERVOIR_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS md FROM documents),
rk AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY {_ph.duck_hex_int('md', 1, 8)}, doc_id) AS INT) AS rn
  FROM h)
SELECT doc_id, lang, rn FROM rk WHERE rn <= 20"""


@_q("hash_reservoir_sample", _RESERVOIR_SQL)
def q_hash_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group uniform k-sample without replacement, deterministically:
    keep each language's 20 docs with the smallest md5(doc_id) — under a
    random-oracle hash the k smallest hashes ARE a uniform k-subset, but
    unlike rand() the pick is stable across reruns, retries, and
    repartitioning (and two engines agree on it, which is the point of
    the oracle). This is the distributed form of reservoir sampling: no
    sequential state, one per-group top-k. At scale swap row_number for
    a groupBy min_by-k or window-free TakeOrdered per group if a single
    group dominates."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    u = _ph.md5_int32(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(u.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(w).cast("int").alias("rn")
        )
        .where(F.col("rn") <= 20)
    )


_ROLLING_DAU_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
tgt AS (
  SELECT CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS day,
         user_id
  FROM daily)
SELECT strftime(day, '%Y-%m-%d') AS day, COUNT(DISTINCT user_id) AS dau_7d
FROM tgt
WHERE day <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
GROUP BY day"""


@_q("rolling_dau", _ROLLING_DAU_SQL)
def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling-DAU
    board metric. COUNT(DISTINCT) can't ride a sliding window frame, so
    the scalable plan reduces FIRST (distinct (day, user) — collapses
    events to at most |days|x|users|), then fans each row out to the 7
    target days it supports (sequence+explode, a x7 multiplier on the
    already-reduced frame — never on raw events), then distinct-counts
    per target day. Two shuffles on (day-ish, user) keys. Days beyond
    the data's max date are trimmed against a 1-row broadcast max."""
    e = _read(spark, sf_dir, "events")
    daily = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    tgt = daily.select(
        F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("day"),
        "user_id",
    )
    mx = e.agg(F.max(F.to_date("ts")).alias("mx"))
    return (
        tgt.crossJoin(F.broadcast(mx))
        .where(F.col("day") <= F.col("mx"))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau_7d"))
    )


# ---------------------------------------------------------------------------
# Sparse lexical similarity, quantile bucketizer, policy dedup, skew report
# ---------------------------------------------------------------------------

_SPARSE_TOPK_SQL = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents),
tokv AS (SELECT doc_id, unnest(a) AS token FROM arr),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokv GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n FROM documents),
w AS (
  SELECT f.doc_id, f.token,
         CAST(round(f.tf * ln((n.n + 1.0) / (d.df + 1.0)) * 1000000, 0) AS BIGINT) AS w
  FROM tf f JOIN dfq d USING (token) CROSS JOIN n
  WHERE d.df <= 100),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(SUM(a.w * b.w) AS BIGINT) AS score_raw,
         COUNT(*) AS n_shared
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT d1, d2, score_raw, n_shared, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
    ORDER BY score_raw DESC, d1 ASC, d2 ASC) AS rk FROM pairs) t
WHERE rk <= 50"""


@_q("sparse_lexical_topk", _SPARSE_TOPK_SQL)
def q_sparse_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most lexically similar doc pairs by TF-IDF-weighted token
    overlap — the sparse (BM25-family) counterpart to the dense
    embedding similarity ops. The posting-list self-join is banded to
    df <= 100: super-common tokens contribute ~nothing to the score but
    quadratic join volume (the same insight as the Jaccard prefix
    filter, applied to weighted retrieval). Weights quantize to integer
    micro-units so the pair score is an exact int64 sum — order-free
    across partitions and engines; ranking needs no rounding at all.
    Global top-k via TakeOrderedAndProject; window over 50 survivors."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tokv = docs.select("doc_id", F.explode(toks).alias("token"))
    tf = tokv.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    w = (
        tf.join(dfq, "token")
        .where(F.col("df") <= 100)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) * 1e6,
                0,
            )
            .cast("long")
            .alias("w"),
        )
    )
    a, b = w.alias("a"), w.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(
            F.sum(F.col("a.w") * F.col("b.w")).cast("bigint").alias("score_raw"),
            F.count("*").alias("n_shared"),
        )
    )
    top = pairs.orderBy(F.desc("score_raw"), F.asc("d1"), F.asc("d2")).limit(50)
    wk = Window.orderBy(F.desc("score_raw"), F.asc("d1"), F.asc("d2"))
    return top.select(
        "d1", "d2", "score_raw", "n_shared",
        F.row_number().over(wk).cast("int").alias("rk"),
    )


_BUCKETIZE_SQL = """
WITH c AS (
  SELECT event_id, CAST(round("value" * 100, 0) AS BIGINT) AS vc FROM events),
bp AS (
  SELECT quantile_cont(vc, 0.25) AS p25,
         quantile_cont(vc, 0.50) AS p50,
         quantile_cont(vc, 0.75) AS p75
  FROM c),
assigned AS (
  SELECT c.event_id, c.vc,
         CASE WHEN c.vc <= bp.p25 THEN 1
              WHEN c.vc <= bp.p50 THEN 2
              WHEN c.vc <= bp.p75 THEN 3
              ELSE 4 END AS bucket
  FROM c CROSS JOIN bp)
SELECT bucket, COUNT(*) AS n,
       CAST(MIN(vc) AS DOUBLE) / 100.0 AS lo,
       CAST(MAX(vc) AS DOUBLE) / 100.0 AS hi
FROM assigned GROUP BY bucket"""


@_q("quartile_bucketize", _BUCKETIZE_SQL)
def q_quartile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase quantile bucketizer — the SCALE path for quantile
    binning, vs value_deciles' global-sort ntile: phase 1 reduces the
    corpus to three breakpoints (one aggregate), phase 2 assigns buckets
    with a broadcast CASE — no global sort, no window, fully parallel.
    Quartile fractions are dyadic, so exact-percentile interpolation
    over integer cents is bit-identical across engines (same argument
    as group_median); bucket edges use <= consistently. Output is the
    per-bucket audit (count + realized [lo, hi])."""
    e = _read(spark, sf_dir, "events")
    c = e.select(
        "event_id", F.round(F.col("value") * 100, 0).cast("long").alias("vc")
    )
    bp = c.agg(
        F.percentile("vc", 0.25).alias("p25"),
        F.percentile("vc", 0.50).alias("p50"),
        F.percentile("vc", 0.75).alias("p75"),
    )
    assigned = c.crossJoin(F.broadcast(bp)).select(
        "event_id",
        "vc",
        F.when(F.col("vc") <= F.col("p25"), 1)
        .when(F.col("vc") <= F.col("p50"), 2)
        .when(F.col("vc") <= F.col("p75"), 3)
        .otherwise(4)
        .alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.count("*").alias("n"),
        (F.min("vc").cast("double") / 100.0).alias("lo"),
        (F.max("vc").cast("double") / 100.0).alias("hi"),
    )


_KEEP_BEST_SQL = f"""
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
  SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a),
ranked AS (
  SELECT g.doc_id, g.group_id,
         row_number() OVER (
           PARTITION BY g.group_id
           ORDER BY d.n_chars DESC, g.doc_id ASC) AS rn
  FROM groups g JOIN documents d USING (doc_id))
SELECT d.doc_id, d.lang, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM groups)
   OR d.doc_id IN (SELECT doc_id FROM ranked WHERE rn = 1)"""


@_q("dedup_keep_best", _KEEP_BEST_SQL)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-based dedup resolution: within each near-dup cluster keep
    the HIGHEST-QUALITY doc (longest, tie -> lowest id) instead of
    dedup_resolve_docs' min-id canonical — the rule real curation
    pipelines want ('keep the best copy, drop the rest'). Winner per
    cluster via max_by on (n_chars, -doc_id) — a hash aggregate over
    cluster members, no window sort; survivors = winners + all docs in
    no cluster (broadcast anti join on the tiny member set). Round-12:
    the labels are the session-shared `ngram_cc_labels` (same detector,
    same loop, built once per session)."""
    from aqi_featurestore_spark.plans._base import ngram_cc_labels

    d = _read(spark, sf_dir, "documents")
    comp = ngram_cc_labels(spark, sf_dir)
    members = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    winners = members.groupBy("group_id").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).alias("doc_id")
    )
    keep_clustered = d.join(
        F.broadcast(winners.select("doc_id")), "doc_id", "left_semi"
    )
    unclustered = d.join(
        F.broadcast(comp.select("doc_id")), "doc_id", "left_anti"
    )
    return unclustered.unionByName(keep_clustered).select(
        "doc_id", "lang", "n_chars"
    )


_SKEW_REPORT_SQL = """
WITH e AS (
  SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY user_id),
l AS (
  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
o AS (
  SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey)
SELECT 'events.user_id' AS key_name,
       CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS top1_cnt,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top1_share FROM e
UNION ALL
SELECT 'lineitem.l_partkey', CAST(SUM(c) AS BIGINT), COUNT(*),
       CAST(MAX(c) AS BIGINT), CAST(MAX(c) AS DOUBLE) / SUM(c) FROM l
UNION ALL
SELECT 'orders.o_custkey', CAST(SUM(c) AS BIGINT), COUNT(*),
       CAST(MAX(c) AS BIGINT), CAST(MAX(c) AS DOUBLE) / SUM(c) FROM o"""


@_q("skew_report", _SKEW_REPORT_SQL)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the report that tells you BEFORE a
    shuffle join whether to salt (operators/skew.py) or let AQE split:
    per candidate key, total rows, distinct keys, and the hottest key's
    share. Each table reduces via one map-combined groupBy to |keys|
    rows, then to a single stats row — the report costs one scan per
    table regardless of scale."""

    def stats(df: DataFrame, key: str, label: str) -> DataFrame:
        c = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
        return c.agg(
            F.lit(label).alias("key_name"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("c").cast("bigint").alias("top1_cnt"),
            (F.max("c").cast("double") / F.sum("c")).alias("top1_share"),
        )

    e = stats(_read(spark, sf_dir, "events"), "user_id", "events.user_id")
    l = stats(_read(spark, sf_dir, "lineitem"), "l_partkey", "lineitem.l_partkey")
    o = stats(_read(spark, sf_dir, "orders"), "o_custkey", "orders.o_custkey")
    return e.unionByName(l).unionByName(o)


# ---------------------------------------------------------------------------


# -- BPE merge learning ------------------------------------------------------

_BPE_N_MERGES = 6


def _bpe_oracle_sql(n_merges: int) -> str:
    """Unrolled N-round BPE oracle. Every vocab/best CTE is MATERIALIZED
    (each is referenced twice; DuckDB's default inlining re-evaluates
    multiply-referenced CTEs multiplicatively). The per-round merge
    applies the leftmost non-overlapping rule via match/parity lists —
    provably identical to the Spark fold (operators/bpe.py docstring)."""
    parts = [
        r"""WITH v0 AS MATERIALIZED (
  SELECT list_transform(range(1, length(word) + 1),
                        i -> substr(word, i, 1)) AS sym,
         freq
  FROM (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> x <> '')) AS word
          FROM documents)
    GROUP BY word))"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT sym[j] AS l, sym[j + 1] AS r, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT unnest(range(1, len(sym))) AS j, sym, freq
        FROM v{p} WHERE len(sym) >= 2)
  GROUP BY 1, 2),
b{i} AS MATERIALIZED (
  SELECT l, r, l || r AS m, pair_count FROM c{i}
  ORDER BY pair_count DESC, l, r LIMIT 1),
v{i} AS MATERIALIZED (
  SELECT list_filter(list_transform(range(1, len(sym) + 1), p ->
           CASE WHEN p < len(sym) AND mg[p] = 1 THEN m
                WHEN p >= 2 AND mg[p - 1] = 1 THEN NULL
                ELSE sym[p] END), x -> x IS NOT NULL) AS sym,
         freq
  FROM (
    SELECT sym, freq, m,
           list_transform(range(1, len(sym)), p -> CASE WHEN mt[p] = 1
                 AND (p - coalesce(list_max(list_filter(range(1, p),
                       q -> mt[q] = 0)), 0)) % 2 = 1
               THEN 1 ELSE 0 END) AS mg
    FROM (
      SELECT sym, freq, b.m,
             list_transform(range(1, len(sym)), p ->
               CASE WHEN sym[p] = b.l AND sym[p + 1] = b.r
                    THEN 1 ELSE 0 END) AS mt
      FROM v{p} CROSS JOIN b{i} b) t1) t2)""")
    selects = "\nUNION ALL ".join(
        f"SELECT {i} AS step, l AS left_sym, r AS right_sym, m AS merged, "
        f"pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return ",\n".join(parts) + "\n" + selects + "\nORDER BY step"


_BPE_SQL = _bpe_oracle_sql(_BPE_N_MERGES)


@_q("bpe_merge_learn", _BPE_SQL)
def q_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 6 BPE merges of a subword tokenizer from the
    corpus (Sennrich et al. 2016, method only) — tokenizer training as
    a cluster job. The corpus collapses ONCE into the unique-word
    (sym, freq) vocab; each round is a vocab-only weighted pair count
    plus a 1-row argmax collect, then a row-local merge fold — the
    Lloyd's-rounds pattern (driver-sequential rounds, distributed
    aggregation, collects bounded at 1 row x rounds). See
    operators/bpe.py for the merge-semantics proof; pair counting is
    overlapping-adjacent (the reference trainer's loop), merging is
    leftmost non-overlapping."""
    from aqi_featurestore_spark.operators.bpe import bpe_learn

    merges = bpe_learn(_read(spark, sf_dir, "documents"), n_merges=_BPE_N_MERGES)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, merged string, "
        "pair_count bigint",
    ).orderBy("step")


def _bpe_apply_oracle_sql(n_merges: int) -> str:
    """Companion generator: ONE chain carrying (source, word) so the
    same b{i} argmax CTEs both define the merges (global freq sums are
    source-invariant) and drive the per-row application; final select
    aggregates tokenizer compression per source."""
    parts = [
        r"""WITH a0 AS MATERIALIZED (
  SELECT source, word,
         list_transform(range(1, length(word) + 1),
                        i -> substr(word, i, 1)) AS sym,
         freq
  FROM (
    SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT source, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> x <> '')) AS word
          FROM documents)
    GROUP BY source, word))"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT sym[j] AS l, sym[j + 1] AS r, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT unnest(range(1, len(sym))) AS j, sym, freq
        FROM a{p} WHERE len(sym) >= 2)
  GROUP BY 1, 2),
b{i} AS MATERIALIZED (
  SELECT l, r, l || r AS m, pair_count FROM c{i}
  ORDER BY pair_count DESC, l, r LIMIT 1),
a{i} AS MATERIALIZED (
  SELECT source, word,
         list_filter(list_transform(range(1, len(sym) + 1), p ->
           CASE WHEN p < len(sym) AND mg[p] = 1 THEN m
                WHEN p >= 2 AND mg[p - 1] = 1 THEN NULL
                ELSE sym[p] END), x -> x IS NOT NULL) AS sym,
         freq
  FROM (
    SELECT source, word, sym, freq, m,
           list_transform(range(1, len(sym)), p -> CASE WHEN mt[p] = 1
                 AND (p - coalesce(list_max(list_filter(range(1, p),
                       q -> mt[q] = 0)), 0)) % 2 = 1
               THEN 1 ELSE 0 END) AS mg
    FROM (
      SELECT source, word, sym, freq, b.m,
             list_transform(range(1, len(sym)), p ->
               CASE WHEN sym[p] = b.l AND sym[p + 1] = b.r
                    THEN 1 ELSE 0 END) AS mt
      FROM a{p} CROSS JOIN b{i} b) t1) t2)""")
    final = f"""SELECT source,
       CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(freq * length(word)) AS BIGINT) AS sum_chars,
       CAST(SUM(freq * len(sym)) AS BIGINT) AS sum_symbols,
       CAST(SUM(freq * len(sym)) AS DOUBLE)
         / CAST(SUM(freq) AS DOUBLE) AS avg_sym_per_word,
       CAST(SUM(freq * len(sym)) AS DOUBLE)
         / CAST(SUM(freq * length(word)) AS DOUBLE) AS sym_per_char
FROM a{n_merges}
GROUP BY source"""
    return ",\n".join(parts) + "\n" + final


_BPE_APPLY_SQL = _bpe_apply_oracle_sql(_BPE_N_MERGES)


@_q("bpe_tokenize_stats", _BPE_APPLY_SQL)
def q_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-then-transform composition for the BPE family: learn the 6
    merges (bpe_merge_learn's fit), apply them corpus-wide, and report
    per-source tokenizer compression (symbols per word / per char) —
    the evaluation loop of tokenizer training. The transform runs on
    the (source, word, freq) vocab with the merges as literals, so the
    token stream is touched exactly twice (fit pass + vocab pass) and
    the merge folds are row-local. Freq-weighted exact-integer sums;
    two output divisions."""
    from aqi_featurestore_spark.operators.bpe import bpe_apply_stats, bpe_learn

    docs = _read(spark, sf_dir, "documents")
    merges = bpe_learn(docs, n_merges=_BPE_N_MERGES)
    return bpe_apply_stats(docs, merges)


# -- distributed PCA (top principal component) -------------------------------

_PCA_DIM = 64
_PCA_ITER = 20


def _pca_oracle_sql(dim: int, n_iter: int) -> str:
    """Unrolled power-iteration oracle, two components. Every CTE
    referenced more than once is MATERIALIZED. The chains reproduce, op
    for op, the pure-Python fit in operators/pca.py: Chat = n*G - S S^T
    in pinned double products, 0.125-start, left-fold matvec and norm,
    element divide; PC2 via Hotelling deflation with every product
    pinned ((lam * v_i) * v_j) — so the component literals in the Spark
    plan and the oracle's final vectors agree bit-for-bit."""
    d1 = dim + 1
    head = f"""WITH qv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings),
cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM qv),
gm AS MATERIALIZED (
  SELECT t1.i AS i, t2.j AS j,
         CAST(SUM(q[t1.i] * q[t2.j]) AS BIGINT) AS g
  FROM qv CROSS JOIN range(1, {d1}) t1(i) CROSS JOIN range(1, {d1}) t2(j)
  GROUP BY t1.i, t2.j),
sv AS MATERIALIZED (
  SELECT t.j AS j, CAST(SUM(q[t.j]) AS BIGINT) AS s
  FROM qv CROSS JOIN range(1, {d1}) t(j)
  GROUP BY t.j),
crow AS MATERIALIZED (
  SELECT g.i,
         list(CAST(g.g AS DOUBLE) * cnt.nd
              - CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE) ORDER BY g.j)
           AS row
  FROM gm g
  JOIN sv s1 ON g.i = s1.j
  JOIN sv s2 ON g.j = s2.j
  CROSS JOIN cnt
  GROUP BY g.i),
cmat AS MATERIALIZED (SELECT list(row ORDER BY i) AS m FROM crow),
means AS MATERIALIZED (
  SELECT list(CAST(s AS DOUBLE) / cnt.nd / 1000000.0 ORDER BY j) AS mean
  FROM sv CROSS JOIN cnt GROUP BY cnt.nd)"""

    def chain(prefix: str, mat: str) -> str:
        parts = [f"""{prefix}v0 AS (SELECT list_transform(range(1, {d1}), x -> 0.125) AS v)"""]
        for k in range(1, n_iter + 1):
            p = k - 1
            parts.append(f"""{prefix}w{k} AS (
  SELECT list_transform(m, row ->
           list_reduce(list_transform(range(1, {d1}), jj -> row[jj] * v[jj]),
                       (x, y) -> x + y)) AS w
  FROM {mat} CROSS JOIN {prefix}v{p}),
{prefix}n{k} AS (
  SELECT sqrt(list_reduce(list_transform(w, x -> x * x), (a, b) -> a + b))
           AS nrm
  FROM {prefix}w{k}),
{prefix}v{k} AS MATERIALIZED (
  SELECT list_transform(w, x -> x / nrm) AS v
  FROM {prefix}w{k} CROSS JOIN {prefix}n{k})""")
        return ",\n".join(parts)

    deflate = f"""du AS (
  SELECT list_transform(m, row ->
           list_reduce(list_transform(range(1, {d1}), jj -> row[jj] * v[jj]),
                       (x, y) -> x + y)) AS u
  FROM cmat CROSS JOIN av{n_iter}),
dlam AS (
  SELECT list_reduce(list_transform(range(1, {d1}), i -> v[i] * u[i]),
                     (x, y) -> x + y) AS lam
  FROM av{n_iter} CROSS JOIN du),
crow2 AS MATERIALIZED (
  SELECT c.i,
         list_transform(range(1, {d1}),
           jj -> c.row[jj] - ((lam * v[c.i]) * v[jj])) AS row
  FROM crow c CROSS JOIN av{n_iter} CROSS JOIN dlam),
cmat2 AS MATERIALIZED (SELECT list(row ORDER BY i) AS m FROM crow2)"""

    proj = (
        f"round(list_reduce(list_transform(range(1, {d1}), "
        f"jj -> (CAST(q[jj] AS DOUBLE) / 1000000.0 - mean[jj]) * {{v}}[jj]), "
        f"(x, y) -> x + y), 6)"
    )
    tail = f"""SELECT vec_id,
       {proj.format(v='p1.v')} AS pc1_score,
       {proj.format(v='p2.v')} AS pc2_score
FROM qv
CROSS JOIN av{n_iter} p1
CROSS JOIN bv{n_iter} p2
CROSS JOIN means"""
    return (
        head + ",\n" + chain("a", "cmat") + ",\n" + deflate + ",\n"
        + chain("b", "cmat2") + "\n" + tail
    )


_PCA_SQL = _pca_oracle_sql(_PCA_DIM, _PCA_ITER)


@_q("pca_project", _PCA_SQL)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: project every embedding onto the corpus's top
    TWO principal components (PC2 via pinned Hotelling deflation). Fit = one Arrow-batched pass accumulating the
    EXACT int64 Gram matrix (order-free integer matmul — the reason
    numpy partials and any fold order agree bit-for-bit), collect
    bounded at dim^2 rows; 20 power-iteration rounds run in pure
    Python floats with pinned left folds that the oracle's unrolled
    list_reduce CTEs reproduce op for op. Projection is a zero-shuffle
    row-local fold with the fit as plan literals. Overflow bounds and
    the >9e6-row fit path are stated in operators/pca.py."""
    from aqi_featurestore_spark.operators.pca import pca_fit, pca_project

    vecs = _read(spark, sf_dir, "embeddings")
    pcs, mean = pca_fit(vecs, dim=_PCA_DIM, n_iter=_PCA_ITER, n_components=2)
    return pca_project(vecs, pcs, mean)


_OVL_HASHES = 64


def _domain_overlap_sql(num_hashes: int = _OVL_HASHES) -> str:
    """Per-source MinHash signatures (the md5-affine family shared with
    minhash_lsh_dedup) + pairwise signature agreement. min() over the
    multiset equals min() over the set, so no shingle DISTINCT."""
    fam = _ph.hash_family(num_hashes)
    p = _ph.MERSENNE31
    mins = ",\n         ".join(
        f"min(({a} * hb + {b}) % {p}) AS h{i}" for i, (a, b) in enumerate(fam)
    )
    agree = " + ".join(
        f"CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return rf"""WITH tok AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents),
shp AS (
  SELECT source,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM tok),
shh AS (
  SELECT source, ({_ph.duck_hex_int('h', 1, 8)} % {p}) AS hb
  FROM (SELECT source, md5(s) AS h FROM shp)),
sig AS (
  SELECT source,
         {mins}
  FROM shh GROUP BY source)
SELECT s1.source AS source_a, s2.source AS source_b,
       CAST(({agree}) AS BIGINT) AS agree,
       round(CAST(({agree}) AS DOUBLE) / {num_hashes}, 6) AS jaccard_est
FROM sig s1 JOIN sig s2 ON s1.source < s2.source"""


@_q("domain_minhash_overlap", _domain_overlap_sql())
def q_domain_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-set overlap matrix between sources: one MinHash
    signature per SOURCE (64 md5-affine permutation mins over every
    3-word shingle of every doc in the source — the same portable family
    as `minhash_lsh_dedup`), then signature agreement between every
    source pair estimates their content Jaccard. The cross-domain
    contamination / redundancy audit a mixture planner wants before
    weighting domains (two mirrors of the same crawl should not both get
    full budget).

    Exactness: min() is duplicate-insensitive, so the signature needs no
    shingle dedup and agrees bit-for-bit with the oracle's multiset min;
    agreement counts are integers, one int division at the end.

    100 TB shape: shingles explode map-side and collapse straight into
    the 64-way min aggregate keyed by source (partial mins merge
    map-side — the shuffle carries n_sources x 64 longs, not shingles).
    The pair join is a broadcast non-equi self-join of the n_sources-row
    signature table — bounded by the domain count, never the corpus."""
    docs = _read(spark, sf_dir, "documents")
    # spread before the shingle explode + 64-hash signature work (the
    # near_dedup._spread pattern); the min-aggregate absorbs it map-side
    sigs = minhash_signatures(
        docs.repartition(spark.sparkContext.defaultParallelism),
        id_col="source", num_hashes=_OVL_HASHES
    )
    a = sigs.select(F.col("source").alias("source_a"), F.col("sig").alias("_sa"))
    b = sigs.select(F.col("source").alias("source_b"), F.col("sig").alias("_sb"))
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b"), "inner"
    )
    agree = F.aggregate(
        F.zip_with(
            "_sa", "_sb", lambda x, y: (x == y).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return pairs.select(
        "source_a",
        "source_b",
        agree.alias("agree"),
        F.round(agree.cast("double") / _OVL_HASHES, 6).alias("jaccard_est"),
    )


_LM_NLL_SQL = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents),
tokp AS (
  SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS token
  FROM arr),
vx AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tokp),
bg AS (
  SELECT t1.doc_id, t1.token AS t1, t2.token AS t2
  FROM tokp t1 JOIN tokp t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
c12 AS (
  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY t1, t2),
c1 AS (SELECT t1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY t1),
nt AS (
  SELECT c.t1, c.t2,
         CAST(round(ln(CAST(u.c1 + vx.v AS DOUBLE)
                       / CAST(c.c12 + 1 AS DOUBLE)) * 1000000, 0)
              AS BIGINT) AS nll
  FROM c12 c JOIN c1 u ON c.t1 = u.t1, vx),
per AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
         CAST(SUM(n.nll) AS BIGINT) AS nll_micro
  FROM bg b JOIN nt n ON b.t1 = n.t1 AND b.t2 = n.t2
  GROUP BY b.doc_id)
SELECT doc_id, n_trans, nll_micro,
       round(CAST(nll_micro AS DOUBLE) / CAST(n_trans * 1000000 AS DOUBLE),
             6) AS avg_nll
FROM per"""


@_q("lm_perplexity_score", _LM_NLL_SQL)
def q_lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document negative log-likelihood under a Laplace-smoothed
    bigram LM trained on the corpus itself — the CCNet-style perplexity
    quality filter (Wenzek et al. 2020 train KenLM on Wikipedia and
    bucket CommonCrawl by doc perplexity; here the LM is the in-engine
    add-one bigram model so the whole pipeline stays one system).
    P(t2|t1) = (c(t1,t2) + 1) / (c(t1,*) + V); per-transition NLL
    ln((c1 + V) / (c12 + 1)) lands in integer micro-nats (single ln of
    one IEEE-exact int/int division, the DSIR discipline), so per-doc
    sums are order-free exact BIGINTs; avg_nll is ONE final division.
    Low avg_nll = familiar prose, high = garbled/outlier text.

    100 TB shape: bigram occurrences explode once from the token-array
    zip (no positional self-join — that's the oracle's shape) and
    collapse map-side into the bigram-TYPE count table; c(t1,*) derives
    from the type table, never re-reading occurrences; V is a 1-row
    distinct-count scalar (broadcast). Scoring joins occurrences to
    types on the bigram key — the bigram_familiarity equi-join, AQE
    splits stop-word-pair skew — then one per-doc hash aggregate.
    Token arrays and doc bodies never shuffle."""
    docs = _read(spark, sf_dir, "documents")
    # spread the narrow scan before the bigram explode (the
    # near_dedup._spread pattern — a single-file scan would tokenize
    # serially); the round-robin moves only (doc_id, text) rows
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    bigrams = F.zip_with(
        F.expr("slice(a, 1, size(a) - 1)"),
        F.expr("slice(a, 2, size(a) - 1)"),
        lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
    )
    arr = docs.select(F.col("doc_id"), toks.alias("a"))
    bg = (
        arr.where(F.size("a") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.t1").alias("t1"), F.col("b.t2").alias("t2"))
    )
    vx = arr.select(F.explode("a").alias("token")).agg(
        F.countDistinct("token").cast("long").alias("v")
    )
    c12 = bg.groupBy("t1", "t2").agg(F.count("*").cast("long").alias("c12"))
    c1 = c12.groupBy("t1").agg(F.sum("c12").cast("long").alias("c1"))
    nt = (
        c12.join(c1, "t1")
        .crossJoin(F.broadcast(vx))
        .select(
            "t1",
            "t2",
            F.round(
                F.log(
                    (F.col("c1") + F.col("v")).cast("double")
                    / (F.col("c12") + 1).cast("double")
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("nll"),
        )
    )
    per = (
        bg.join(nt, ["t1", "t2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trans"),
            F.sum("nll").cast("long").alias("nll_micro"),
        )
    )
    return per.select(
        "doc_id",
        "n_trans",
        "nll_micro",
        F.round(
            F.col("nll_micro").cast("double")
            / (F.col("n_trans") * F.lit(1_000_000)).cast("double"),
            6,
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog distinct-count audit (round 7) — completes the
# portable-sketch family (CMS heavy hitters, Bloom dedup gate).
# ---------------------------------------------------------------------------

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
#: rank field width: 63-bit md5 hash minus the 8 index bits
_HLL_RBITS = 63 - _HLL_P  # 55 -> rank in [1, 56]
_HLL_RMAX = _HLL_RBITS + 1
#: low-limb width for the exact harmonic sum (2^(56-M) terms)
_HLL_LIMB = 1 << 28
#: alpha_m * m^2 * 2^RMAX, computed once in Python and inlined as the
#: SAME double literal on both engines (repr round-trips exactly)
_HLL_ALPHA_NUM = repr(0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * (1 << _HLL_RMAX))
_HLL_SMALL = 2.5 * _HLL_M  # linear-counting switchover


_HLL_SQL = rf"""
WITH tok AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents),
tokv AS (
  SELECT DISTINCT source,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS token
  FROM tok),
hv AS (
  SELECT source, {_ph.duck_md5_int63("md5('hll|' || token)")} AS h63
  FROM tokv),
rr AS (
  SELECT source, h63 % {_HLL_M} AS idx, h63 // {_HLL_M} AS rest
  FROM hv),
regs AS (
  SELECT source, idx,
         MAX(CASE WHEN rest = 0 THEN {_HLL_RMAX}
                  ELSE {_HLL_RMAX} - length(bin(rest)) END) AS m
  FROM rr GROUP BY source, idx),
limbs AS (
  SELECT source,
         CAST(SUM((CAST(1 AS BIGINT) << ({_HLL_RMAX} - m)) // {_HLL_LIMB})
              AS BIGINT) AS hi,
         CAST(SUM((CAST(1 AS BIGINT) << ({_HLL_RMAX} - m)) % {_HLL_LIMB})
              AS BIGINT) AS lo,
         CAST({_HLL_M} - COUNT(*) AS BIGINT) AS v
  FROM regs GROUP BY source),
ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM tokv GROUP BY source),
est AS (
  SELECT l.source, e.n_exact, l.v AS n_empty_regs,
         CASE WHEN ({_HLL_ALPHA_NUM} /
                    (CAST(l.hi + l.v * {_HLL_LIMB} AS DOUBLE) * {_HLL_LIMB}.0
                     + CAST(l.lo AS DOUBLE))) <= {_HLL_SMALL} AND l.v > 0
              THEN {_HLL_M} * ln({_HLL_M} / CAST(l.v AS DOUBLE))
              ELSE ({_HLL_ALPHA_NUM} /
                    (CAST(l.hi + l.v * {_HLL_LIMB} AS DOUBLE) * {_HLL_LIMB}.0
                     + CAST(l.lo AS DOUBLE)))
         END AS e
  FROM limbs l JOIN ex e USING (source))
SELECT source, n_exact, n_empty_regs,
       round(e, 4) AS hll_estimate,
       round((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
         AS rel_err
FROM est"""


@_q("hll_distinct_audit", _HLL_SQL)
def q_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog cardinality audit: per-source
    distinct-3-gram-shingle estimates from a 256-register HLL (p=8,
    Flajolet et al. 2007 — public paper, method only) laid side by side
    with the EXACT distinct count and the relative error — the
    sketch-accuracy audit an operator reads before trusting approx
    counts at scale, and the third member of the portable-sketch family
    (CMS `cms_heavy_hitters`, Bloom `bloom_dedup_gate`). Shingles, not
    tokens, are the counted unit: their per-source cardinality (~1.3k
    here) exercises the RAW harmonic-mean branch, the regime HLL exists
    for, while sources with few distinct values would fall into the
    linear-counting branch — both paths live in the one CASE.

    Portability (the md5 discipline): the 63-bit register hash is
    md5-derived, the register index is h mod 256, and the rank is
    computed from the remaining 55 bits via binary-STRING length
    (``length(bin(rest))`` — identical minimal-width semantics in Spark
    and DuckDB), so both engines build byte-identical register files.
    The harmonic sum is EXACT integers: each register contributes
    2^(56-M) assembled in two int64 limbs (the q1 discipline; empty
    registers fold in as v * 2^28 on the high limb), and the estimate
    is ONE pinned double expression over the limbs. alpha*m^2*2^56 is
    computed once in Python and inlined as the same literal on both
    sides. The small-range branch (raw <= 2.5m with empty registers)
    uses linear counting m*ln(m/V) — the one libm call, rounded at 4
    (the feature_mi precedent).

    100 TB shape: the WHOLE state per group is 256 registers — the
    point of HLL: the register aggregate map-combines (MAX is
    mergeable), so distinct counting at any corpus size shuffles at
    most n_sources x 256 tiny rows, never tokens. The exact COUNT
    DISTINCT leg exists to MEASURE the sketch (audit cost, same
    contract as ann_recall's brute leg); production drops it and keeps
    the sketch."""
    from aqi_featurestore_spark.functions.text import word_shingles

    dt = (
        _read(spark, sf_dir, "documents")
        .select("source", F.explode(word_shingles("text", 3)).alias("token"))
        .distinct()
    )
    h63 = _ph.md5_int63(F.concat(F.lit("hll|"), F.col("token")))
    # rest = h63 >> p: exact integer shift (a double division would lose
    # bits above 2^53 on a 63-bit hash)
    rr = dt.select(
        "source",
        (h63 % _HLL_M).alias("idx"),
        F.shiftright(h63, _HLL_P).cast("long").alias("rest"),
    )
    regs = (
        rr.select(
            "source",
            "idx",
            F.when(F.col("rest") == 0, F.lit(_HLL_RMAX))
            .otherwise(F.lit(_HLL_RMAX) - F.length(F.bin("rest")))
            .cast("long")
            .alias("rank"),
        )
        .groupBy("source", "idx")
        .agg(F.max("rank").alias("m"))
    )
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RMAX} - m AS INT))")
    limbs = regs.select(
        "source",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RMAX} - m AS INT)) div {_HLL_LIMB}"
        ).alias("thi"),
        (term % F.lit(_HLL_LIMB)).alias("tlo"),
    ).groupBy("source").agg(
        F.sum("thi").cast("long").alias("hi"),
        F.sum("tlo").cast("long").alias("lo"),
        (F.lit(_HLL_M) - F.count("*")).cast("long").alias("v"),
    )
    ex = dt.groupBy("source").agg(F.count("*").cast("long").alias("n_exact"))
    j = limbs.join(ex, ["source"])
    raw = F.lit(float(_HLL_ALPHA_NUM)) / (
        (F.col("hi") + F.col("v") * _HLL_LIMB).cast("double")
        * F.lit(float(_HLL_LIMB))
        + F.col("lo").cast("double")
    )
    e = F.when(
        (raw <= F.lit(_HLL_SMALL)) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(_HLL_M) / F.col("v").cast("double")),
    ).otherwise(raw)
    return j.select(
        "source",
        "n_exact",
        F.col("v").alias("n_empty_regs"),
        F.round(e, 4).alias("hll_estimate"),
        F.round(
            (e - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_err"),
    )


_HLL_SHARDS = 4

_HLL_MERGE_SQL = rf"""
WITH tok AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents),
tokv AS (
  SELECT DISTINCT source,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS token
  FROM tok),
hv AS (
  SELECT source, {_ph.duck_md5_int63("md5('hll|' || token)")} AS h63
  FROM tokv),
rr AS (
  SELECT source, h63 % {_HLL_M} AS idx, h63 // {_HLL_M} AS rest
  FROM hv),
regs AS (
  SELECT source, idx,
         MAX(CASE WHEN rest = 0 THEN {_HLL_RMAX}
                  ELSE {_HLL_RMAX} - length(bin(rest)) END) AS m
  FROM rr GROUP BY source, idx),
limbs AS (
  SELECT source,
         CAST(SUM((CAST(1 AS BIGINT) << ({_HLL_RMAX} - m)) // {_HLL_LIMB})
              AS BIGINT) AS hi,
         CAST(SUM((CAST(1 AS BIGINT) << ({_HLL_RMAX} - m)) % {_HLL_LIMB})
              AS BIGINT) AS lo,
         CAST({_HLL_M} - COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CAST(idx AS BIGINT) * m) AS BIGINT) AS ck
  FROM regs GROUP BY source)
SELECT source, CAST({_HLL_SHARDS} AS INT) AS n_shards,
       v AS n_empty_regs, ck AS reg_checksum,
       round(CASE WHEN ({_HLL_ALPHA_NUM} /
                    (CAST(hi + v * {_HLL_LIMB} AS DOUBLE) * {_HLL_LIMB}.0
                     + CAST(lo AS DOUBLE))) <= {_HLL_SMALL} AND v > 0
              THEN {_HLL_M} * ln({_HLL_M} / CAST(v AS DOUBLE))
              ELSE ({_HLL_ALPHA_NUM} /
                    (CAST(hi + v * {_HLL_LIMB} AS DOUBLE) * {_HLL_LIMB}.0
                     + CAST(lo AS DOUBLE)))
         END, 4) AS hll_estimate
FROM limbs"""


@_q("hll_merge_rollup", _HLL_MERGE_SQL)
def q_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup (round 8): build an independent HLL
    register file per (source, SHARD) — shard = doc_id mod 4, standing
    in for the day/partition files an incremental pipeline persists —
    then merge shards with register-wise MAX and estimate from the
    merged file. HLL's merge algebra says the merged registers equal
    the registers built directly over the union, BIT-FOR-BIT (MAX is
    associative/commutative/idempotent, so per-shard dedup overlap is
    harmless) — and that is exactly what the oracle verifies: it builds
    the registers in ONE pass with no shards, and the hash compare
    covers a per-source register checksum (sum idx*rank), not just the
    rounded estimate. This is the property that makes sketch
    maintenance incremental at 100 TB: yesterday's register files never
    get rebuilt — today's partition sketches fold in with 256 MAXes per
    group, and a rollup (day -> month -> all-time) re-scans registers,
    never tokens.

    Same portability discipline as `hll_distinct_audit` (md5-derived
    63-bit hash, bin()-length rank, exact two-limb harmonic sum, one
    pinned double expression).

    100 TB shape: shard-level dedup + register aggregate map-combine;
    the merge stage shuffles at most n_sources x n_shards x 256 tiny
    rows; the estimate runs over n_sources rows. In production the
    shard register files persist as a table keyed (source, shard, idx)
    and the merge is the only thing that runs per rollup."""
    from aqi_featurestore_spark.functions.text import word_shingles

    d = _read(spark, sf_dir, "documents")
    dt = (
        d.select(
            "source",
            F.pmod(F.col("doc_id"), F.lit(_HLL_SHARDS)).alias("shard"),
            F.explode(word_shingles("text", 3)).alias("token"),
        )
        .distinct()
    )
    h63 = _ph.md5_int63(F.concat(F.lit("hll|"), F.col("token")))
    rr = dt.select(
        "source",
        "shard",
        (h63 % _HLL_M).alias("idx"),
        F.shiftright(h63, _HLL_P).cast("long").alias("rest"),
    )
    shard_regs = (
        rr.select(
            "source",
            "shard",
            "idx",
            F.when(F.col("rest") == 0, F.lit(_HLL_RMAX))
            .otherwise(F.lit(_HLL_RMAX) - F.length(F.bin("rest")))
            .cast("long")
            .alias("rank"),
        )
        .groupBy("source", "shard", "idx")
        .agg(F.max("rank").alias("m"))
    )
    merged = shard_regs.groupBy("source", "idx").agg(F.max("m").alias("m"))
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RMAX} - m AS INT))")
    limbs = merged.select(
        "source",
        "idx",
        "m",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RMAX} - m AS INT)) div {_HLL_LIMB}"
        ).alias("thi"),
        (term % F.lit(_HLL_LIMB)).alias("tlo"),
    ).groupBy("source").agg(
        F.sum("thi").cast("long").alias("hi"),
        F.sum("tlo").cast("long").alias("lo"),
        (F.lit(_HLL_M) - F.count("*")).cast("long").alias("v"),
        F.sum(F.col("idx").cast("long") * F.col("m")).cast("long").alias("ck"),
    )
    raw = F.lit(float(_HLL_ALPHA_NUM)) / (
        (F.col("hi") + F.col("v") * _HLL_LIMB).cast("double")
        * F.lit(float(_HLL_LIMB))
        + F.col("lo").cast("double")
    )
    e = F.when(
        (raw <= F.lit(_HLL_SMALL)) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(_HLL_M) / F.col("v").cast("double")),
    ).otherwise(raw)
    return limbs.select(
        "source",
        F.lit(_HLL_SHARDS).cast("int").alias("n_shards"),
        F.col("v").alias("n_empty_regs"),
        F.col("ck").alias("reg_checksum"),
        F.round(e, 4).alias("hll_estimate"),
    )


_PADDING_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
              AS BIGINT) AS nt
  FROM documents),
bp AS (
  SELECT quantile_cont(nt, 0.25) AS p25,
         quantile_cont(nt, 0.50) AS p50,
         quantile_cont(nt, 0.75) AS p75
  FROM tk),
asg AS (
  SELECT nt, CASE WHEN nt <= bp.p25 THEN 1
                  WHEN nt <= bp.p50 THEN 2
                  WHEN nt <= bp.p75 THEN 3
                  ELSE 4 END AS bucket
  FROM tk CROSS JOIN bp),
g AS (SELECT CAST(MAX(nt) AS BIGINT) AS gmax FROM tk),
per AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MAX(nt) AS BIGINT) AS max_len,
         CAST(SUM(nt) AS BIGINT) AS s
  FROM asg GROUP BY bucket)
SELECT CAST(bucket AS INT) AS bucket_id, n_docs, max_len,
       CAST(n_docs * max_len - s AS BIGINT) AS pad_bucketed,
       CAST(n_docs * g.gmax - s AS BIGINT) AS pad_single_max,
       CASE WHEN n_docs * g.gmax - s = 0 THEN NULL
            ELSE round(CAST(n_docs * (g.gmax - max_len) AS DOUBLE)
                       / CAST(n_docs * g.gmax - s AS DOUBLE), 6)
       END AS saved_share
FROM per, g"""


@_q("padding_efficiency_audit", _PADDING_SQL)
def q_padding_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed training batches: docs
    bucket into length quartiles (the two-phase exact-percentile
    bucketizer — one breakpoint aggregate + a broadcast CASE, the
    quartile_bucketize scale shape: no global sort, no ntile window),
    and each bucket reports the pad tokens a pad-to-bucket-max batcher
    spends vs pad-to-global-max (the naive fixed-max_len collator), with
    the per-bucket saving share. This is the audit behind
    length-grouped batching (common in LLM finetuning dataloaders):
    padding is wasted compute, and the win concentrates in the short
    buckets — exactly what the saved_share column shows.

    Exactness: token counts are the text_stats whitespace tokenizer
    (identical regex semantics both engines); quartile fractions are
    dyadic so exact-percentile interpolation over integer counts is
    bit-identical; all pad arithmetic is BIGINT; saved_share is one
    int/int division (NULL when the bucket already pads nothing under
    global max — degenerate uniform-length corpora).

    100 TB shape: one map-side-combined percentile aggregate to 3
    doubles, broadcast onto the scan for assignment, one 4-row group
    aggregate, one 1-row max scalar — the corpus is scanned twice
    (breakpoints, then assignment) and never shuffled by row."""
    d = _read(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    tok = d.select(
        F.when(trimmed == "", F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
        .alias("nt"),
    )
    bp = tok.agg(
        F.percentile("nt", 0.25).alias("p25"),
        F.percentile("nt", 0.50).alias("p50"),
        F.percentile("nt", 0.75).alias("p75"),
    )
    asg = tok.crossJoin(F.broadcast(bp)).select(
        "nt",
        F.when(F.col("nt") <= F.col("p25"), 1)
        .when(F.col("nt") <= F.col("p50"), 2)
        .when(F.col("nt") <= F.col("p75"), 3)
        .otherwise(4)
        .alias("bucket"),
    )
    g = tok.agg(F.max("nt").cast("long").alias("gmax"))
    per = asg.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("nt").cast("long").alias("max_len"),
        F.sum("nt").cast("long").alias("s"),
    )
    out = per.crossJoin(F.broadcast(g))
    pad_single = F.col("n_docs") * F.col("gmax") - F.col("s")
    return out.select(
        F.col("bucket").cast("int").alias("bucket_id"),
        "n_docs",
        "max_len",
        (F.col("n_docs") * F.col("max_len") - F.col("s"))
        .cast("long")
        .alias("pad_bucketed"),
        pad_single.cast("long").alias("pad_single_max"),
        F.when(pad_single == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("n_docs") * (F.col("gmax") - F.col("max_len"))).cast(
                    "double"
                )
                / pad_single.cast("double"),
                6,
            )
        )
        .alias("saved_share"),
    )


# ---------------------------------------------------------------------------
# Round 8, wave 2: KMV bottom-k distinct sketch (4th portable sketch — set algebra)
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_MOD = 1_000_000_007
# (K-1) * 2^63 precomputed once and inlined as the SAME double literal on
# both sides (the _HLL_ALPHA_NUM discipline); exactly representable.
_KMV_NUM = float((_KMV_K - 1) << 63)

_KMV_SQL = rf"""
WITH tok AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT source,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM tok),
hv AS (
  SELECT DISTINCT source, {_ph.duck_md5_int63("md5('kmv|' || s)")} AS h
  FROM sh),
cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM hv GROUP BY source),
pr AS (
  SELECT a.source AS source_a, b.source AS source_b, a.n AS na, b.n AS nb
  FROM cnt a JOIN cnt b ON a.source < b.source),
uv AS (
  SELECT p.source_a, p.source_b, v.h
  FROM pr p JOIN hv v ON v.source = p.source_a OR v.source = p.source_b
  GROUP BY 1, 2, 3),
ur AS (
  SELECT source_a, source_b, h,
         row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY source_a, source_b) AS nu
  FROM uv),
sl AS (
  SELECT source_a, source_b, h, rn,
         CAST(LEAST(nu, {_KMV_K}) AS INT) AS l_union
  FROM ur WHERE rn <= {_KMV_K}),
cm AS (
  SELECT s.source_a, s.source_b, MAX(s.l_union) AS l_union,
         CAST(SUM(s.h % {_KMV_MOD}) AS BIGINT) AS sketch_checksum,
         MAX(CASE WHEN s.rn = s.l_union THEN s.h END) AS kth,
         CAST(SUM(CASE WHEN ea.h IS NOT NULL AND eb.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM sl s
  LEFT JOIN hv ea ON ea.source = s.source_a AND ea.h = s.h
  LEFT JOIN hv eb ON eb.source = s.source_b AND eb.h = s.h
  GROUP BY 1, 2),
xin AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS exact_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2),
est AS (
  SELECT c.source_a, c.source_b, c.l_union, c.sketch_checksum, c.n_common,
         CASE WHEN c.l_union < {_KMV_K} THEN CAST(c.l_union AS DOUBLE)
              ELSE {_KMV_NUM!r} / CAST(c.kth AS DOUBLE) END AS eu,
         p.na + p.nb - COALESCE(x.exact_inter, CAST(0 AS BIGINT))
           AS exact_union,
         COALESCE(x.exact_inter, CAST(0 AS BIGINT)) AS exact_intersection
  FROM cm c
  JOIN pr p ON c.source_a = p.source_a AND c.source_b = p.source_b
  LEFT JOIN xin x ON c.source_a = x.source_a AND c.source_b = x.source_b)
SELECT source_a, source_b, CAST({_KMV_K} AS INT) AS k, l_union,
       sketch_checksum, n_common,
       round(eu, 4) AS est_union, exact_union,
       round(CAST(n_common AS DOUBLE) / CAST(l_union AS DOUBLE) * eu, 4)
         AS est_intersection,
       exact_intersection,
       round((eu - CAST(exact_union AS DOUBLE)) / CAST(exact_union AS DOUBLE),
             6) AS rel_err_union
FROM est"""


@_q("kmv_set_cardinality", _KMV_SQL)
def q_kmv_set_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch with SET ALGEBRA — the
    4th portable sketch (HLL counts, CMS weighs, Bloom gates; KMV is
    the one that supports UNION and INTERSECTION cardinalities, Beyer
    et al. 2007 — public paper, method only). Per source, the sketch is
    the K=256 smallest md5-derived 63-bit hashes of its distinct
    3-word shingles; for every source pair the query MERGES the two
    sketches (bottom-K of the value union — the mergeable-sketch
    operation) and reports estimated union cardinality
    ((K-1) * 2^63 / kth-min), estimated intersection (the
    common-membership share of the merged sketch scaled by the union
    estimate), and both EXACT counterparts with the relative error —
    the pairwise overlap audit `domain_minhash_overlap` gives as a
    Jaccard RATIO, here as absolute cardinalities.

    Merge-algebra pin: the Spark side builds per-source sketches and
    merges them pairwise; the ORACLE builds each pair's union sketch
    DIRECTLY from the unioned value set in one pass. Bottom-k's merge
    theorem (bottom-K of A union B == bottom-K of bottom-K(A) union
    bottom-K(B), valid because each input sketch is the true
    bottom-min(K,|set|) of its set) says they agree bit-for-bit, and
    the hash compare covers the merged sketch's checksum
    (sum h mod 1e9+7 — 256 * (1e9+7) fits int64), its kth value (via
    est_union), and the common-membership count. Sub-K sets degenerate
    to exact counts (the CASE both engines share).

    100 TB shape: the per-source sketch build is a two-phase bottom-K
    (per-(source, salt-64) window keeps <= K rows, then a final
    <= 64K-row per-source window) — partial bottom-Ks merge exactly,
    the same algebra the pair step exercises, so no single task ever
    sorts a full source's hash stream. Downstream of the sketch build
    everything is bounded: n_sources arrays of K longs, a broadcast
    non-equi self-join over the n_sources-row sketch table
    (domain_minhash_overlap precedent), array ops per pair. The exact
    union/intersection legs exist to MEASURE the sketch (audit cost,
    the ann_recall contract); production drops them and keeps sketches,
    maintained incrementally: yesterday's sketch never rebuilds —
    today's partition sketches fold in with one bottom-K merge."""
    from aqi_featurestore_spark.functions.text import word_shingles

    d = _read(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(word_shingles("text", 3)).alias("s")
    ).distinct()
    hv = sh.select(
        "source",
        _ph.md5_int63(F.concat(F.lit("kmv|"), F.col("s"))).alias("h"),
    ).distinct()
    # two-phase bottom-K: per-(source, salt) partials, then the final
    # per-source merge — the partial-merge exactness IS the KMV algebra
    w1 = Window.partitionBy("source", "salt").orderBy("h")
    part = (
        hv.withColumn("salt", F.pmod(F.col("h"), F.lit(64)))
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= _KMV_K)
    )
    w2 = Window.partitionBy("source").orderBy("h")
    topk = part.withColumn("rn", F.row_number().over(w2)).where(
        F.col("rn") <= _KMV_K
    )
    sk = topk.groupBy("source").agg(
        F.array_sort(F.collect_list("h")).alias("sk")
    )
    cnt = hv.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    # n_sources rows of (sketch[<=K], n): localCheckpoint so the pair
    # self-join reads the materialized sketch table instead of planning
    # the whole build twice (the ann_recall_methods shared-leg pattern)
    src = sk.join(cnt, "source").localCheckpoint()
    a = src.select(
        F.col("source").alias("source_a"),
        F.col("sk").alias("ska"),
        F.col("n").alias("na"),
    )
    b = src.select(
        F.col("source").alias("source_b"),
        F.col("sk").alias("skb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    us = F.array_sort(F.array_union("ska", "skb"))
    merged = pairs.select(
        "source_a",
        "source_b",
        "na",
        "nb",
        F.least(F.size(us), F.lit(_KMV_K)).cast("int").alias("l_union"),
        F.slice(us, F.lit(1), F.least(F.size(us), F.lit(_KMV_K))).alias("sl"),
        "ska",
        "skb",
    )
    kth = F.element_at("sl", F.col("l_union"))
    ck = F.aggregate(
        "sl",
        F.lit(0).cast("long"),
        lambda acc, v: acc + v % F.lit(_KMV_MOD),
    )
    common = (
        F.size(F.array_intersect(F.array_intersect("sl", "ska"), "skb"))
        .cast("long")
    )
    eu = F.when(
        F.col("l_union") < _KMV_K, F.col("l_union").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / kth.cast("double"))
    scored = merged.select(
        "source_a",
        "source_b",
        "na",
        "nb",
        "l_union",
        ck.cast("long").alias("sketch_checksum"),
        common.alias("n_common"),
        eu.alias("eu"),
    )
    xin = (
        sh.alias("xa")
        .join(
            sh.alias("xb"),
            (F.col("xa.s") == F.col("xb.s"))
            & (F.col("xa.source") < F.col("xb.source")),
        )
        .groupBy(
            F.col("xa.source").alias("source_a"),
            F.col("xb.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    est = scored.join(xin, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "l_union",
        "sketch_checksum",
        "n_common",
        "eu",
        (
            F.col("na") + F.col("nb")
            - F.coalesce("exact_inter", F.lit(0).cast("long"))
        ).alias("exact_union"),
        F.coalesce("exact_inter", F.lit(0).cast("long")).alias(
            "exact_intersection"
        ),
    )
    return est.select(
        "source_a",
        "source_b",
        F.lit(_KMV_K).cast("int").alias("k"),
        "l_union",
        "sketch_checksum",
        "n_common",
        F.round("eu", 4).alias("est_union"),
        "exact_union",
        F.round(
            F.col("n_common").cast("double")
            / F.col("l_union").cast("double")
            * F.col("eu"),
            4,
        ).alias("est_intersection"),
        "exact_intersection",
        F.round(
            (F.col("eu") - F.col("exact_union").cast("double"))
            / F.col("exact_union").cast("double"),
            6,
        ).alias("rel_err_union"),
    )
