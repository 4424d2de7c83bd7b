"""Named query plans + their DuckDB oracle SQL (the correctness contract).

Importing this package populates ``QUERIES`` / ``ORACLE_SQL``: each
family module registers its queries via the shared ``@_q`` decorator in
``plans/_base.py``:

- plans/feature_store.py  — feature-store parity + bench headliners
- plans/llm_text.py       — text, near-dedup, similarity, multimodal, hyperfunctions
- plans/analytics_ml.py   — rollups, classification, corpus text, CDC, splits
- plans/quality_tpch.py   — drift/robust stats, as-of joins, TPC-H shapes I
- plans/corpus_stats.py   — corpus curation, sketches, graph, sampling
- plans/mlprep_tpch.py    — ML prep + TPC-H completeness batch
- plans/clustering.py     — distributed k-means + semantic dedup
- plans/web_curation.py   — URL canonicalization / domain capping
- plans/monitoring.py     — freshness/consistency/drift/contract audits
- plans/model_curation.py — classifier-based quality curation
"""

from aqi_featurestore_spark.plans._base import ORACLE_SQL, QUERIES
from aqi_featurestore_spark.plans import (  # noqa: F401  (registration side-effects)
    feature_store,
    llm_text,
    analytics_ml,
    quality_tpch,
    corpus_stats,
    mlprep_tpch,
    clustering,
    web_curation,
    monitoring,
    model_curation,
)

__all__ = ["QUERIES", "ORACLE_SQL"]
