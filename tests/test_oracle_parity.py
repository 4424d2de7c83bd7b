"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same check at sf0.01 — see scripts/check_correctness.py
for the full-scale local run)."""

from __future__ import annotations

import pytest

from aqi_featurestore_spark.plans import ORACLE_SQL, QUERIES
from tests.oracle_utils import compare_with_oracle


SF_DIR = "/root/testdata/sf0.001"

#: Queries that read session artifacts (plans/_base.py session_artifact):
#: between them every artifact kind, built cold by the first reader in
#: this order and hit by the later ones. Part of the default run.
SESSION_ARTIFACT_READERS = (
    "ann_index_serve",
    "ann_filtered_topk",
    "hybrid_rrf_fusion_ann",
    "hybrid_fusion_recall",
    "sparse_topk_serve",
    "dedup_resolve_docs",
    "dedup_cluster_sizes",
    "kmeans_assign",
    "semantic_dedup",
    "quality_classifier_train",
    "model_registry_list",
    "ann_recall_methods",
)


@pytest.mark.parametrize("name", SESSION_ARTIFACT_READERS)
def test_session_artifact_reader_matches_oracle(spark, name):
    compare_with_oracle(QUERIES[name](spark, SF_DIR), ORACLE_SQL[name], SF_DIR)


# The full registry is `slow`: deselected from the default run to keep
# it short (see pytest.ini); run it with `python -m pytest tests/ -m slow`.
@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    if name not in ORACLE_SQL:
        assert df.count() >= 0  # rows-only check for non-SQL-expressible ops
        return
    compare_with_oracle(df, ORACLE_SQL[name], SF_DIR)
