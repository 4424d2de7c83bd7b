"""Near-dup pair resolution: connected components -> canonical survivors.

Pair detectors (ngram_jaccard / minhash / simhash / embedding cosine)
emit EDGES; an LLM training pipeline must then drop all-but-one per
duplicate CLUSTER, not per pair (a~b, b~c means {a,b,c} is one group even
if (a,c) was never emitted). This is small-diameter connected components:

- label propagation over the edge list: every vertex starts labeled with
  its own id; each round adopts the min label among itself and its
  neighbors; converges in O(component diameter) rounds — near-dup
  clusters are shallow (dozens of docs), so a handful of joins.
- each round is one shuffle on fixed-width (id, label) pairs;
  ``localCheckpoint`` truncates the lineage so plans don't deepen
  geometrically across iterations (a 100-iteration chained plan would
  stall the optimizer long before the data hurts).

The same loop is the standard Spark CC pattern (GraphX/GraphFrames do the
equivalent under the hood); no external graph library needed.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
    method: str = "label",
) -> DataFrame:
    """(doc_id, group_id) for every vertex appearing in ``pairs``;
    group_id = min doc id in the component (deterministic canonical).

    ``method`` picks the iteration scheme — both reach the SAME fixpoint
    (labels constant per component at the component min; property-tested
    equivalent on random graphs in tests/test_llm_ops.py):

    - ``"label"`` (default): plain min-label propagation — one join +
      one aggregate per round, converges in O(diameter) rounds. Right
      for near-dup clusters, which are shallow (dozens of docs, diameter
      a handful).
    - ``"doubling"``: Shiloach-Vishkin hook + shortcut — each round
      also compresses pointer chains via ``label <- label(label)``
      (one extra self-join per round), converging in O(log diameter)
      rounds. Crossover: pays 2 shuffles/round instead of 1, so it wins
      once diameter exceeds ~2x the expected round count — deep chain
      topologies (drifting boilerplate: v1~v2~...~vN near-dup chains)
      where propagation would need hundreds of rounds or silently hit
      ``max_iter``. A 60-deep path converges in 6 doubling rounds vs 60
      propagation rounds.
    """
    if method not in ("label", "doubling"):
        raise ValueError(f"unknown connected-components method {method!r}")
    if max_iter < 1:
        raise ValueError(f"connected_components: max_iter must be >= 1, got {max_iter}")
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # Initialization fuses the first hooking round: label(v) = min(v,
    # min neighbor) straight out of the edge aggregate (edges are
    # symmetrized, so every vertex appears as `a`). For the common
    # shallow near-dup graphs (pair/star clusters) this IS the fixpoint,
    # so the loop below runs only the single confirming round — half the
    # jobs of the identity-init formulation.
    labels = edges.groupBy(F.col("a").alias("id")).agg(
        F.min(F.least("a", "b")).alias("label")
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["a"] == labels["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "new_label"
            ),
            "label",
        )
        if method == "doubling":
            # shortcut: new_label <- new_label(new_label). Label values
            # are always vertex ids present in the frame (they start as
            # ids and only min-combine), so the self-join is total; the
            # coalesce is belt-and-braces.
            m = hooked.select(
                F.col("id").alias("m_id"), F.col("new_label").alias("m_label")
            )
            hooked = hooked.join(
                m, hooked["new_label"] == m["m_id"], "left"
            ).select(
                "id",
                F.coalesce("m_label", "new_label").alias("new_label"),
                "label",
            )
        updated = hooked.localCheckpoint()
        changed = updated.where(F.col("new_label") != F.col("label")).count()
        labels = updated.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # Partially-converged labels would silently keep >1 "canonical"
        # doc per cluster downstream; near-dup components are shallow, so
        # hitting this means max_iter is badly undersized for the graph.
        log.warning(
            "connected_components: %d labels still changing after max_iter=%d "
            "rounds; components with diameter > max_iter are split and "
            "resolve_duplicates may keep extra survivors",
            changed,
            max_iter,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("group_id"))


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
    method: str = "label",
) -> DataFrame:
    """Keep one canonical document per duplicate cluster (min id) plus
    every document not implicated in any pair. Output = deduplicated
    corpus with the original columns."""
    groups = connected_components(pairs, src=src, dst=dst, method=method)
    survivors = groups.where(F.col("doc_id") == F.col("group_id")).select("doc_id")
    implicated = groups.select("doc_id")
    untouched = docs.join(implicated, docs[id_col] == implicated["doc_id"], "left_anti")
    kept = docs.join(survivors, docs[id_col] == survivors["doc_id"], "left_semi")
    return untouched.unionByName(kept)
