"""Round-12 pair-scan equivalence pins: the batched MapInArrow exact
scans (operators/similarity.py "Batched exact pair scans") must produce
BIT-identical rows to the Catalyst fold-dot formulation they replaced —
same normalize order (cumsum of squares), same sequential dot order,
same JVM round/threshold/rank decisions. The reference pipelines below
ARE the pre-round-12 plans, built inline from the same primitives the
oracle SQL mirrors, so equality here is the same property the DuckDB
hash gate proves end-to-end."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aqi_featurestore_spark.operators.clustering import normalized_jvm
from aqi_featurestore_spark.operators.similarity import (
    _dot_fold,
    cosine_topk_bruteforce,
    embedding_cosine_pairs,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(712)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 3)
        for i in range(120)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )


def _canon(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def test_pairs_batched_equals_fold(vectors):
    """All-pairs cosine: batched scan == the BNLJ fold-dot pipeline."""
    v = vectors.select(
        F.col("vec_id").alias("id"), normalized_jvm("embedding").alias("vec")
    )
    a = v.select(F.col("id").alias("d1"), F.col("vec").alias("v1"))
    b = v.select(F.col("id").alias("d2"), F.col("vec").alias("v2"))
    cos = _dot_fold("v1", "v2")
    ref = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.1)
    )
    new = embedding_cosine_pairs(vectors, threshold=0.1)
    assert _canon(new) == _canon(ref)


def test_topk_batched_equals_fold(vectors):
    """Brute top-k: batched scan == the BNLJ fold-dot + rank pipeline,
    including the exclude-same-label mask (hard-negative contract)."""
    queries = vectors.where(F.col("vec_id") % 10 == 0)
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        normalized_jvm("embedding").alias("q_vec"),
        F.col("label").alias("_q_ex"),
    )
    c = vectors.select(
        F.col("vec_id").alias("n_id"),
        normalized_jvm("embedding").alias("n_vec"),
        F.col("label").alias("_n_ex"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("n_id"))
        .where(F.col("_q_ex") != F.col("_n_ex"))
    )
    cos = _dot_fold("q_vec", "n_vec")
    scored = pairs.select("q_id", "n_id", F.round(cos, 6).alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    ref = scored.select(
        "q_id", "n_id", "cos_sim", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= 7)
    new = cosine_topk_bruteforce(
        queries, vectors, k=7, exclude_same="label"
    )
    assert _canon(new) == _canon(ref)


@pytest.mark.parametrize("empty_side", ["queries", "corpus"])
def test_topk_empty_side_returns_no_rows(vectors, empty_side):
    """An empty query set or an empty corpus scans zero pairs."""
    empty = vectors.where(F.lit(False))
    q, c = (empty, vectors) if empty_side == "queries" else (vectors, empty)
    assert cosine_topk_bruteforce(q, c, k=5).count() == 0
    assert cosine_topk_bruteforce(q, c, k=5, exclude_same="label").count() == 0


def test_pairs_empty_input_returns_no_rows(vectors):
    """No vectors: the streamed and the packed side are both empty."""
    assert embedding_cosine_pairs(vectors.where(F.lit(False))).count() == 0
