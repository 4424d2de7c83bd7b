"""Round-9 verdict asks delivered in round 10 (wave 2): file-level
stat skipping inside OfflineStore.read (ask #6), the shared snapshot-
manifest helper's atomic writes (ADVICE #5), signature-index
compaction/retirement (ask #5), and the persisted sparse impact index
lifecycle (ask #1)."""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.sources.offline_store import OfflineStore


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id string, feature_timestamp timestamp, aqi double"
    )


@pytest.fixture()
def stat_store(spark, tmp_path):
    """Three appends on three days with DISJOINT aqi ranges, so each
    day's files are provably skippable for some cut."""
    store = OfflineStore(spark, str(tmp_path / "offline"), stat_cols=("aqi",))
    store.append(_batch(spark, [
        ("a", ts("2024-01-01 10:00:00"), 1.0),
        ("b", ts("2024-01-01 11:00:00"), 9.0),
    ]))
    store.append(_batch(spark, [
        ("a", ts("2024-01-02 10:00:00"), 100.0),
        ("b", ts("2024-01-02 11:00:00"), 110.0),
    ]))
    store.append(_batch(spark, [
        ("a", ts("2024-01-03 10:00:00"), 200.0),
        ("b", ts("2024-01-03 11:00:00"), 210.0),
    ]))
    return store


def test_offline_store_file_skipping_prunes_and_matches(spark, stat_store):
    """read(where_ge=) must (a) scan strictly fewer files than the full
    read, (b) return exactly the rows of the unpruned filter, and (c)
    skip only files whose recorded max PROVES emptiness (one-sided)."""
    store = stat_store
    kept, skipped = store.prune_plan([("aqi", ">=", 150.0)])
    assert skipped and kept
    assert len(kept) + len(skipped) == len(store.read().inputFiles())

    pruned = store.read(where_ge=("aqi", 150.0))
    full = store.read().where(F.col("aqi") >= 150.0)
    assert sorted(
        (r["entity_id"], r["feature_timestamp"], r["aqi"])
        for r in pruned.collect()
    ) == sorted(
        (r["entity_id"], r["feature_timestamp"], r["aqi"])
        for r in full.collect()
    )
    # the files-read assertion: the pruned plan's scan holds only kept files
    assert set(pruned.inputFiles()) < set(full.inputFiles())
    assert len(pruned.inputFiles()) == len(kept)
    # one-sidedness: every skipped file truly has no matching row
    none = (
        spark.read.option("basePath", store.path).parquet(*skipped)
        .where(F.col("aqi") >= 150.0)
    )
    assert none.count() == 0
    # a cut below every file's max prunes nothing and loses nothing
    k2, s2 = store.prune_plan([("aqi", ">=", 0.5)])
    assert not s2
    assert store.read(where_ge=("aqi", 0.5)).count() == 6


def test_offline_store_prune_matches_zone_skip_decisions(spark, stat_store):
    """Parity with the persisted zone-map rule (E222): treating each
    FILE as the zone, zone_skip_decisions over directly-computed
    per-file min/max must flag exactly the files prune_plan skips."""
    from aqi_featurestore_spark.operators.sketches import (
        zone_minmax,
        zone_skip_decisions,
    )

    store = stat_store
    cut = 150.0
    df = store.read().withColumn("f", F.input_file_name())
    decisions = zone_skip_decisions(
        zone_minmax(df, ["f"], ["aqi"]), {"p": ("aqi", cut)}
    )
    skip_direct = {
        OfflineStore._norm_path(r["f"])
        for r in decisions.collect()
        if r["skip_p"] == 1
    }
    _kept, skipped = store.prune_plan([("aqi", ">=", cut)])
    assert {OfflineStore._norm_path(p) for p in skipped} == skip_direct


def test_offline_store_file_skipping_composes_with_as_of(spark, stat_store):
    """Each version's manifest carries stats for exactly its files, so
    where_ge prunes inside an as-of replay too."""
    store = stat_store
    # at version 1 only day-1 files exist; a cut above them skips all
    kept_v1, skipped_v1 = store.prune_plan([("aqi", ">=", 150.0)], as_of=1)
    assert not kept_v1 and skipped_v1
    assert store.read(as_of=1, where_ge=("aqi", 150.0)).count() == 0
    # version 2 adds day-2 (still < 150); version 3 adds the matches
    assert store.read(as_of=2, where_ge=("aqi", 150.0)).count() == 0
    assert store.read(as_of=3, where_ge=("aqi", 150.0)).count() == 2
    # and a low cut at version 2 returns exactly version 2's rows
    assert store.read(as_of=2, where_ge=("aqi", 0.5)).count() == 4


def test_offline_store_stats_survive_retire(spark, stat_store):
    """retire() drops partitions without recomputing stats — surviving
    files keep their recorded min/max and pruning still works."""
    store = stat_store
    store.retire(before=date(2024, 1, 2))
    kept, skipped = store.prune_plan([("aqi", ">=", 150.0)])
    assert len(skipped) >= 1  # day-2 files still provably empty
    got = store.read(where_ge=("aqi", 150.0))
    assert got.count() == 2
    assert len(got.inputFiles()) == len(kept)


def test_manifest_writes_are_atomic_and_leave_no_tmp(spark, tmp_path):
    """fs.write_text_atomic: overwrites land whole (readable JSON after
    many rewrites) and the tmp files are renamed away, not leaked."""
    import json
    import os

    from aqi_featurestore_spark.sources import fs

    p = str(tmp_path / "meta" / "floor.json")
    for i in range(5):
        fs.write_text_atomic(spark, p, json.dumps({"floor": i}))
        assert json.loads(fs.read_text(spark, p))["floor"] == i
    visible = [n for n in os.listdir(tmp_path / "meta") if not n.startswith(".")]
    assert visible == ["floor.json"]  # no .tmp-* leak


# -- signature-index retention (round-9 verdict ask #5) ---------------------

_BASE = ("the quick brown fox jumps over the lazy dog while the cat "
         "watches from the warm windowsill and the birds sing outside")
_OTHER = ("completely different text about mountain rivers carving "
          "their slow canyons through limestone over millions of years")
_NOVEL = ("a third subject entirely concerning the migration patterns "
          "of arctic terns across two polar summers every single year")
_DOCS = "doc_id long, text string"


def _bucket_set(df):
    return {(r["doc_id"], r["band"], r["bucket"]) for r in df.collect()}


def test_signature_index_compaction_is_lossless(spark, tmp_path):
    """Folding the per-batch append log must change neither the bucket
    SET nor any candidate pair, and must shrink the file count —
    set union is idempotent, so compaction is lossless by construction."""
    from aqi_featurestore_spark.operators.near_dedup import (
        compact_signature_index,
        lsh_candidates_from_index,
        write_signature_index,
    )
    from aqi_featurestore_spark.sources import fs

    index = str(tmp_path / "sig_index")
    d1 = spark.createDataFrame([(1, _BASE), (3, _OTHER)], _DOCS)
    d2 = spark.createDataFrame([(11, _NOVEL)], _DOCS)
    # several appends (one per admitted batch) + a replayed append
    write_signature_index(d1, index)
    write_signature_index(d2, index)
    write_signature_index(d2, index)  # replay: byte-identical rows
    before_rows = _bucket_set(spark.read.parquet(index).distinct())
    probe = spark.createDataFrame([(100, _BASE + " tail")], _DOCS)
    before_cand = sorted(
        (r["d1"], r["d2"])
        for r in lsh_candidates_from_index(probe, index).collect()
    )
    files_before = len(fs.list_data_files(spark, index))
    stats = compact_signature_index(spark, index)
    assert stats["files_after"] < files_before
    assert _bucket_set(spark.read.parquet(index).distinct()) == before_rows
    after_cand = sorted(
        (r["d1"], r["d2"])
        for r in lsh_candidates_from_index(probe, index).collect()
    )
    assert after_cand == before_cand and after_cand  # probe still collides


def test_signature_index_retirement_stops_ghost_candidates(spark, tmp_path):
    """Docs vacuumed from the corpus must stop surfacing as candidates:
    after retire_from_signature_index their bucket rows are gone, other
    docs' rows are untouched."""
    from aqi_featurestore_spark.operators.near_dedup import (
        lsh_candidates_from_index,
        retire_from_signature_index,
        write_signature_index,
    )

    index = str(tmp_path / "sig_index")
    write_signature_index(
        spark.createDataFrame([(1, _BASE), (3, _OTHER)], _DOCS), index
    )
    probe = spark.createDataFrame([(100, _BASE + " tail")], _DOCS)
    pre = {r["d2"] for r in lsh_candidates_from_index(probe, index).collect()}
    assert 1 in pre  # the near-dup collides before retirement
    stats = retire_from_signature_index(
        spark, index, spark.createDataFrame([(1,)], "doc_id long")
    )
    assert stats["rows"] > 0
    left = spark.read.parquet(index).distinct()
    assert {r["doc_id"] for r in left.collect()} == {3}
    post = {r["d2"] for r in lsh_candidates_from_index(probe, index).collect()}
    assert 1 not in post


def test_signature_index_admissions_identical_after_compaction(
    spark, tmp_path
):
    """Admission parity: the ingest gate run against a COMPACTED index
    admits exactly what it admits against the raw append log."""
    from aqi_featurestore_spark.operators.near_dedup import (
        compact_signature_index,
    )
    from aqi_featurestore_spark.streaming.jobs import run_dedup_ingest_stream

    schema = spark.createDataFrame([], _DOCS).schema

    def run(tag, compact):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        corpus = str(tmp_path / f"corpus_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        index = str(tmp_path / f"index_{tag}")
        spark.createDataFrame(
            [(1, _BASE), (2, _BASE + " extra"), (3, _OTHER)], _DOCS
        ).write.mode("append").parquet(str(src))
        run_dedup_ingest_stream(
            spark, str(src), schema, corpus, ckpt,
            threshold=0.5, signature_index_path=index,
        )
        if compact:
            compact_signature_index(spark, index)
        spark.createDataFrame(
            [(10, _BASE), (11, _NOVEL)], _DOCS
        ).write.mode("append").parquet(str(src))
        run_dedup_ingest_stream(
            spark, str(src), schema, corpus, ckpt,
            threshold=0.5, signature_index_path=index,
        )
        return sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())

    assert run("raw", False) == run("compacted", True) == [1, 3, 11]


# -- persisted sparse impact index (round-9 verdict ask #1) ------------------


@pytest.fixture(scope="module")
def idx_docs(spark):
    from aqi_featurestore_spark.sources.testdata import read_table

    return read_table(spark, "/root/testdata/sf0.001", "documents").cache()


def _direct_weights(docs, df_cap=100):
    """The from-scratch TF-IDF weight build (the formula every sparse
    query pins via its oracle), for store-parity assertions."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tf = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    return (
        tf.join(dfq, "token")
        .where(F.col("df") <= df_cap)
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


def _wset(df):
    return {(r["doc_id"], r["token"], r["w"]) for r in df.collect()}


def test_impact_index_roundtrip_equals_direct_build(spark, idx_docs, tmp_path):
    """write -> refresh -> read must reproduce the from-scratch weight
    table bit-for-bit (longs round-trip parquet losslessly)."""
    from aqi_featurestore_spark.operators.impact_index import (
        read_impact_weights,
        refresh_impact_weights,
        write_impact_partial,
    )

    store = str(tmp_path / "impact")
    write_impact_partial(idx_docs, store, epoch=1)
    stats = refresh_impact_weights(spark, store)
    assert stats["fold_epoch"] == 1 and stats["n_docs"] == idx_docs.count()
    got, wm = read_impact_weights(spark, store)
    assert wm == 1
    assert _wset(got) == _wset(_direct_weights(idx_docs))


def test_impact_index_incremental_epochs_equal_union_build(
    spark, idx_docs, tmp_path
):
    """Appending the corpus in two epochs then refreshing must equal
    ONE direct build over the union — df sums across epochs, the idf
    scalar sees the full N (the SUM-merge semantics the epoch contract
    protects)."""
    from aqi_featurestore_spark.operators.impact_index import (
        read_impact_weights,
        refresh_impact_weights,
        write_impact_partial,
    )

    store = str(tmp_path / "impact")
    half1 = idx_docs.where(F.col("doc_id") % 2 == 0)
    half2 = idx_docs.where(F.col("doc_id") % 2 == 1)
    write_impact_partial(half1, store, epoch=1)
    refresh_impact_weights(spark, store)
    w1, _ = read_impact_weights(spark, store)
    assert _wset(w1) == _wset(_direct_weights(half1))  # snapshot of era 1
    write_impact_partial(half2, store, epoch=2)
    # serving still reads the FROZEN era-1 snapshot until refresh
    from aqi_featurestore_spark.operators.impact_index import pending_epochs

    assert pending_epochs(spark, store) == [2]
    w_stale, wm_stale = read_impact_weights(spark, store)
    assert wm_stale == 1 and _wset(w_stale) == _wset(_direct_weights(half1))
    stats = refresh_impact_weights(spark, store)
    assert stats["fold_epoch"] == 2
    got, wm = read_impact_weights(spark, store)
    assert wm == 2
    assert _wset(got) == _wset(_direct_weights(idx_docs))
    assert pending_epochs(spark, store) == []


def test_impact_index_replayed_epoch_is_absorbed(spark, idx_docs, tmp_path):
    """The CMS epoch-versioned contract: a foreachBatch retry
    re-delivers the SAME epoch — postings dedup, the meta doc-count is
    NOT double-summed, weights match the single-delivery build."""
    from aqi_featurestore_spark.operators.impact_index import (
        read_impact_weights,
        refresh_impact_weights,
        write_impact_partial,
    )

    store = str(tmp_path / "impact")
    half1 = idx_docs.where(F.col("doc_id") % 2 == 0)
    half2 = idx_docs.where(F.col("doc_id") % 2 == 1)
    write_impact_partial(half1, store, epoch=1)
    write_impact_partial(half1, store, epoch=1)  # the retry
    write_impact_partial(half2, store, epoch=2)
    refresh_impact_weights(spark, store)
    got, _ = read_impact_weights(spark, store)
    assert _wset(got) == _wset(_direct_weights(idx_docs))
    # a re-run refresh with nothing pending is a no-op
    stats = refresh_impact_weights(spark, store)
    assert stats["fold_epoch"] == 2
    got2, _ = read_impact_weights(spark, store)
    assert _wset(got2) == _wset(_direct_weights(idx_docs))


def test_impact_index_refresh_races_and_raise_paths(spark, idx_docs, tmp_path):
    """An epoch appended mid-refresh folds NEXT time (snapshotted epoch
    set); reading an unpublished store raises instead of serving an
    uncapped/idf-less table."""
    from aqi_featurestore_spark.operators.impact_index import (
        read_impact_weights,
        refresh_impact_weights,
        write_impact_partial,
    )

    store = str(tmp_path / "impact")
    with pytest.raises(ValueError, match="no published snapshot"):
        write_impact_partial(
            idx_docs.where(F.col("doc_id") % 2 == 0), store, epoch=1
        )
        read_impact_weights(spark, store)
    refresh_impact_weights(spark, store)
    # era-2 postings arrive after the era-2 refresh started: simulate by
    # appending AFTER the refresh (the fold reads a snapshotted epoch
    # list, so the ordering below is what a mid-refresh append leaves)
    write_impact_partial(
        idx_docs.where(F.col("doc_id") % 2 == 1), store, epoch=2
    )
    stats = refresh_impact_weights(spark, store)
    assert stats["fold_epoch"] == 2
    got, _ = read_impact_weights(spark, store)
    assert _wset(got) == _wset(_direct_weights(idx_docs))


def test_impact_index_torn_epoch_is_not_folded(spark, idx_docs, tmp_path):
    """A crash between write_impact_partial's two appends leaves an
    epoch with postings but no doc-count partial. The refresh must NOT
    fold it (its docs would be missing from the idf scalar and the
    advancing watermark would orphan it forever); after the streaming
    retry completes the epoch, the next refresh folds it whole."""
    from aqi_featurestore_spark.operators.impact_index import (
        impact_postings,
        read_impact_weights,
        refresh_impact_weights,
        write_impact_partial,
    )

    store = str(tmp_path / "impact")
    half1 = idx_docs.where(F.col("doc_id") % 2 == 0)
    half2 = idx_docs.where(F.col("doc_id") % 2 == 1)
    write_impact_partial(half1, store, epoch=1)
    # simulate the crash window: epoch 2's postings land, its meta never does
    (
        impact_postings(half2)
        .withColumn("epoch", F.lit(2))
        .write.mode("append")
        .partitionBy("epoch")
        .parquet(f"{store}/postings")
    )
    stats = refresh_impact_weights(spark, store)
    assert stats["fold_epoch"] == 1  # the torn epoch stays pending
    got, wm = read_impact_weights(spark, store)
    assert wm == 1 and _wset(got) == _wset(_direct_weights(half1))
    # the streaming retry re-delivers epoch 2 whole (postings dedup)
    write_impact_partial(half2, store, epoch=2)
    stats2 = refresh_impact_weights(spark, store)
    assert stats2["fold_epoch"] == 2
    got2, _ = read_impact_weights(spark, store)
    assert _wset(got2) == _wset(_direct_weights(idx_docs))


def test_impact_index_stream_equals_direct_build(spark, idx_docs, tmp_path):
    """Streaming maintenance == one direct build: docs arriving as two
    micro-batches (maxFilesPerTrigger=1) append two epochs whose
    refreshed weights equal the from-scratch table; a same-checkpoint
    re-run adds nothing; serving stays on the published snapshot until
    refresh."""
    from aqi_featurestore_spark.operators.impact_index import (
        pending_epochs,
        read_impact_weights,
    )
    from aqi_featurestore_spark.streaming.jobs import run_impact_index_stream

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "impact")
    ckpt = str(tmp_path / "ckpt")
    half1 = idx_docs.where(F.col("doc_id") % 2 == 0)
    half2 = idx_docs.where(F.col("doc_id") % 2 == 1)
    half1.coalesce(1).write.mode("append").parquet(src)
    half2.coalesce(1).write.mode("append").parquet(src)
    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    run_impact_index_stream(
        spark, src, schema, store, ckpt, refresh_after=True
    )
    got, wm = read_impact_weights(spark, store)
    assert _wset(got) == _wset(_direct_weights(idx_docs))
    assert pending_epochs(spark, store) == []
    # same-checkpoint re-run: no new files, nothing appended or changed
    run_impact_index_stream(spark, src, schema, store, ckpt)
    got2, wm2 = read_impact_weights(spark, store)
    assert wm2 == wm and _wset(got2) == _wset(_direct_weights(idx_docs))


def test_sparse_serve_plan_reads_the_store_not_the_corpus(spark):
    """The round-9 economics fix, pinned in the plan: the sparse serve
    plan must scan the impact store's parquet and contain ZERO
    tokenization (no explode/split of document text) and ZERO document
    scans — and build it twice, the second call reusing the session
    store (no rebuild)."""
    from aqi_featurestore_spark.plans import QUERIES

    df = QUERIES["sparse_topk_serve"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "impact-index-" in plan  # scans the persisted store
    assert "documents" not in plan  # never re-reads corpus text
    assert "explode" not in plan.lower()  # never re-tokenizes
    # second build: same session store serves again (cache hit)
    df2 = QUERIES["sparse_topk_serve"](spark, "/root/testdata/sf0.001")
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "impact-index-" in plan2 and "documents" not in plan2
