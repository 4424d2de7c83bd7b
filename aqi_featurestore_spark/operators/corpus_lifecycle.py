"""Lifecycle maintenance for the dedup-ingested curated corpus: file
compaction and the composed multi-store vacuum (round-10 verdict asks
#3/#4).

The curated corpus (`streaming/jobs.run_dedup_ingest_stream`) is the
LLM pipeline's main output: an append-only parquet directory where
every admitted batch lands its own small files, snapshot-manifest
versioned per admission (E226). Two things accrete without bound:

- **files** — at streaming admission rates the per-batch file count
  grows forever; `compact_corpus_store` is the `OfflineStore.compact`
  fold applied here, recording the compacted file list as a new
  manifest version under the E220 discipline (the rewrite deletes
  every pre-compaction file, so the retention floor advances and
  as-of pins below it RAISE instead of resolving to deleted paths —
  replay-through-a-rewrite requires archiving the old files or a
  manifest-indirected read path, both out of scope by the same
  argument OfflineStore.compact documents);
- **retired documents' derived state** — retiring corpus docs is a
  multi-store transaction (corpus parquet + manifests, the
  signature index E227, the impact index's postings/weights), and
  every caller had to remember the right order. `vacuum_corpus` is
  that transaction done once, correctly: corpus first (so index
  retirement runs only after the corpus retirement is visible — the
  retire-after-visible rule near_dedup documents), then each index.

100 TB shape: compaction is ONE shuffle sized by the target file
count; vacuum's corpus rewrite is one anti-join against a broadcast
retirement batch; the index retirements are the per-store anti-join
swaps, each bounded by its own store size, never the corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aqi_featurestore_spark.sources import fs


def compact_corpus_store(
    spark: SparkSession,
    corpus_path: str,
    *,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Fold the curated corpus's per-batch append log into
    ``ceil(bytes / target_file_bytes)`` files and record the result as
    a new manifest version (op="compact") with the retention floor
    advanced to it — the E220 discipline on the corpus store
    (round-10 verdict ask #4). Corpus content is bit-identical
    (pytest-pinned); post-compaction admissions keep appending and
    versioning as before, and their as-of replays stay exact.

    Returns {'files_before', 'files_after', 'bytes', 'version'}."""
    from aqi_featurestore_spark.sources.manifests import SnapshotManifests

    listing = fs.list_data_files(spark, corpus_path)
    if not listing:
        return {"files_before": 0, "files_after": 0, "bytes": 0, "version": None}
    total = sum(sz for _p, sz in listing)
    n_files = max(1, -(-total // target_file_bytes))
    fs.replace_dir(
        spark, corpus_path, spark.read.parquet(corpus_path).repartition(n_files)
    )
    m = SnapshotManifests(spark, corpus_path)
    v = m.record("compact")
    m.set_floor(v)
    after = fs.list_data_files(spark, corpus_path)
    return {
        "files_before": len(listing),
        "files_after": len(after),
        "bytes": sum(sz for _p, sz in after),
        "version": v,
    }


def vacuum_corpus(
    spark: SparkSession,
    corpus_path: str,
    retired_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    signature_index_path: str | None = None,
    impact_index_path: str | None = None,
) -> dict:
    """Retire documents from the curated corpus AND every derived
    store in one call — the composed multi-store transaction the
    round-10 verdict asked for (#3), in the documented-safe order:

    1. **corpus**: anti-join rewrite of the parquet store, recorded as
       a new manifest version (op="vacuum") with the retention floor
       advanced (the rewrite drops files of every prior version — the
       E199 contract: below-floor as-of pins raise rather than
       resolve wrong);
    2. **signature index**: `retire_from_signature_index` (ghost
       candidates stop costing probes) — after the corpus rewrite is
       visible, per the retire-after-visible rule;
    3. **impact index**: `retire_from_impact_index` (vacuumed ids stop
       being SERVED from the weights snapshot; N corrected, weights
       force-republished).

    ``retired_ids`` is localCheckpoint-ed first: callers usually
    derive it FROM the corpus (e.g. "ids older than X"), and a lazy
    plan re-evaluated after step 1 would read the already-rewritten
    store.

    Crash behavior: each step is individually crash-safe (swap /
    marker protocols); a crash between steps leaves later stores
    un-retired — re-running the same vacuum is idempotent for every
    step (anti-joins of already-absent ids are no-ops), so the
    recovery is simply to re-run.

    Returns {'n_retired_corpus', 'corpus_version', 'signature',
    'impact'}."""
    from aqi_featurestore_spark.sources.manifests import SnapshotManifests

    ids = (
        retired_ids.select(F.col(id_col).alias(id_col))
        .distinct()
        .localCheckpoint()
    )
    corpus = spark.read.parquet(corpus_path)
    n_before = corpus.count()
    retained = corpus.join(F.broadcast(ids), id_col, "left_anti")
    # the rewrite touches every row anyway — right-size the file count
    # while at it (a vacuum is also an implicit compaction)
    total = sum(sz for _p, sz in fs.list_data_files(spark, corpus_path))
    fs.replace_dir(
        spark,
        corpus_path,
        retained.repartition(max(1, -(-total // (128 << 20)))),
    )
    m = SnapshotManifests(spark, corpus_path)
    v = m.record("vacuum")
    m.set_floor(v)
    n_after = spark.read.parquet(corpus_path).count()
    out = {
        "n_retired_corpus": n_before - n_after,
        "corpus_version": v,
        "signature": None,
        "impact": None,
    }
    if signature_index_path is not None and fs.list_data_files(
        spark, signature_index_path
    ):
        from aqi_featurestore_spark.operators.near_dedup import (
            retire_from_signature_index,
        )

        out["signature"] = retire_from_signature_index(
            spark, signature_index_path, ids, id_col=id_col
        )
    if impact_index_path is not None:
        from aqi_featurestore_spark.operators.impact_index import (
            retire_from_impact_index,
        )

        out["impact"] = retire_from_impact_index(
            spark, impact_index_path, ids, id_col=id_col
        )
    return out
