"""One zero-norm rule across the similarity family: a vector with norm 0
has no direction, so it is never a neighbour, never a duplicate and
never in an index. Each operator runs on a corpus with one all-zero
row added: the row appears in no output row (as query, neighbour or
pair member), and every other row equals the run without it."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.operators.ann_index import ann_index_topk, build_ann_index
from aqi_featurestore_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    embedding_cosine_pairs,
)

DIM = 16
ZERO_ID = 1000
SCHEMA = "vec_id long, embedding array<float>, label long"


@pytest.fixture(scope="module")
def corpora(spark):
    rng = random.Random(2024)
    rows = [(i, [rng.gauss(0, 1) for _ in range(DIM)], i % 3) for i in range(200)]
    base = spark.createDataFrame(rows, SCHEMA)
    zero = spark.createDataFrame([(ZERO_ID, [0.0] * DIM, 0)], SCHEMA)
    return base, base.unionByName(zero)


def _queries(v):
    """Every 20th vector, plus the zero row when the corpus has it."""
    return v.where((F.col("vec_id") % 20 == 0) | (F.col("vec_id") == ZERO_ID))


def _served(v):
    index, model = build_ann_index(
        v, n_lists=8, n_probe=3, n_subspaces=4, n_codes=8, dim=DIM
    )
    return ann_index_topk(index, _queries(v), model, k=5, rescore=20, rerank_vectors=v)


CASES = {
    "bruteforce_topk": lambda v: cosine_topk_bruteforce(_queries(v), v, k=5),
    "exact_pairs": lambda v: embedding_cosine_pairs(v, threshold=0.4),
    "lsh_topk": lambda v: cosine_topk_lsh(_queries(v), v, k=5, dim=DIM),
    "lsh_pairs": lambda v: embedding_cosine_pairs(
        v, threshold=0.4, lsh=True, dim=DIM
    ),
    "seeded_ivf": lambda v: cosine_topk_ivf(
        _queries(v), v, k=5, n_lists=8, n_probe=3, centroids="seeded"
    ),
    "ann_index_serve": _served,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_zero_norm_row_is_in_no_output(corpora, case):
    base, with_zero = corpora
    got = sorted(tuple(r.asDict().items()) for r in CASES[case](with_zero).collect())
    want = sorted(tuple(r.asDict().items()) for r in CASES[case](base).collect())
    assert want
    ids = ("q_id", "n_id", "d1", "d2")
    assert not [r for r in got if ZERO_ID in [v for k, v in r if k in ids]]
    assert got == want
