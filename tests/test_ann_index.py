"""Online ANN index snapshot (operators/ann_index.py): build/serve
parity with the direct IVFADC query, parquet round-trip with partition
pruning on the online probe path, latest-per-key refresh semantics,
and the zero-corpus-re-encode lookup plan pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.operators.ann_index import (
    ann_index_topk,
    build_ann_index,
    current_index,
    probe_cells,
    read_ann_index,
    write_ann_index,
)
from aqi_featurestore_spark.sources.testdata import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def built(spark, emb):
    index, model = build_ann_index(
        emb, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16
    )
    return index.localCheckpoint(), model


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_index_lookup_matches_direct_ivfpq(spark, emb, built):
    """Serving from the materialized index must be bit-identical to the
    one-shot cosine_topk_ivfpq with the same parameters — same fits,
    same arithmetic, different physical path."""
    from aqi_featurestore_spark.operators.similarity import cosine_topk_ivfpq

    index, model = built
    q = emb.where(F.col("vec_id") % 50 == 0)
    served = ann_index_topk(index, q, model, k=10, rescore=50, rerank_vectors=emb)
    direct = cosine_topk_ivfpq(
        q, emb, k=10, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16,
        coarse="seeded",
    )
    assert _rows(served) == _rows(direct)


def test_lookup_plan_never_reencodes_corpus(spark, emb, built):
    """The LOOKUP plan reads the index as a materialized scan and the
    embeddings parquet only on the query side (rescore=0): one parquet
    scan total, no corpus-side encode."""
    import re

    index, model = built
    # fresh (uncached) read for the query side so source scans count cleanly
    q = read_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") == 0)
    adc = ann_index_topk(index, q, model, k=10, rescore=0)
    plan = adc._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "ExistingRDD" in plan  # index side: codes, not vectors
    # ONE logical source besides the index RDD — the query batch (a
    # parquet scan, substituted by its cache when the fixture cached
    # the same read; the cache node's inner parquet is the same source)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 1
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) <= 1
    # the seeded probe list and the encode are JVM SQL: no Python
    # boundary on the lookup plan
    assert "ArrowEvalPython" not in plan


def test_snapshot_roundtrip_partition_pruning(spark, emb, built, tmp_path):
    """write_ann_index partitions by list_id; the single-query online
    path computes its probe cells driver-side and pushes a literal
    partition filter — the scan must show PartitionFilters pruning —
    and the pruned lookup must equal the unpruned one for that query."""
    index, model = built
    path = str(tmp_path / "annidx")
    write_ann_index(index, model, path)
    rindex, rmodel = read_ann_index(spark, path)
    assert rmodel.cent_q == model.cent_q
    assert rmodel.books == model.books
    assert rmodel.n_probe == model.n_probe and rmodel.dim == model.dim

    qrow = emb.where(F.col("vec_id") == 0).collect()[0]
    cells = probe_cells(rmodel, qrow["embedding"])
    assert len(cells) == rmodel.n_probe
    pruned = rindex.where(F.col("list_id").isin([int(c) for c in cells]))
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "list_id" in pf[0]  # pruning reaches the scan

    q = emb.where(F.col("vec_id") == 0)
    got = ann_index_topk(pruned, q, rmodel, k=10, rescore=0)
    want = ann_index_topk(index, q, model, k=10, rescore=0)
    assert _rows(got) == _rows(want)


def test_current_index_latest_per_key(spark, built):
    """Append-refresh: higher-version rows supersede stale codes per
    n_id (the snapshot family's Redis-overwrite semantics)."""
    index, _ = built
    n_total = index.count()
    re_encoded = index.where(F.col("n_id") < 5).select(
        "n_id",
        (F.col("version") + 1).alias("version"),
        (F.col("list_id") + 1).alias("list_id"),
        *[c for c in index.columns if c.startswith("c")],
    )
    cur = current_index(index.unionByName(re_encoded))
    assert cur.count() == n_total  # one row per n_id survives
    moved = cur.where(F.col("n_id") < 5).select("version").distinct().collect()
    assert [r["version"] for r in moved] == [2]


def test_rescore_guard(spark, emb, built):
    index, model = built
    q = emb.where(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match="rescore"):
        ann_index_topk(index, q, model, k=10, rescore=5)
    with pytest.raises(ValueError, match="rerank_vectors"):
        ann_index_topk(index, q, model, k=10, rescore=50)


def test_kmeans_coarse_lookup_matches_direct(spark, emb):
    """The trained-coarse serving path (the measured-recall registry
    default) must be bit-identical to the one-shot
    cosine_topk_ivfpq(coarse='kmeans') at equal params."""
    from aqi_featurestore_spark.operators.similarity import cosine_topk_ivfpq

    index, model = build_ann_index(
        emb, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16,
        coarse="kmeans", coarse_iters=3,
    )
    assert model.coarse == "kmeans" and model.n_lists == 16
    index = index.localCheckpoint()
    q = emb.where(F.col("vec_id") % 50 == 0)
    served = ann_index_topk(index, q, model, k=10, rescore=50, rerank_vectors=emb)
    direct = cosine_topk_ivfpq(
        q, emb, k=10, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16,
        coarse="kmeans", coarse_iters=3,
    )
    assert _rows(served) == _rows(direct)


def test_kmeans_coarse_roundtrip_and_probe_cells(spark, emb, tmp_path):
    """write/read round-trip preserves the kmeans mode and its double
    centroids bit-for-bit; served lookups from the read-back model are
    identical; driver-side probe_cells reproduces the JVM probe list
    (sequential IEEE fold parity)."""
    index, model = build_ann_index(
        emb, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16,
        coarse="kmeans", coarse_iters=3,
    )
    path = str(tmp_path / "annidx_km")
    write_ann_index(index, model, path)
    rindex, rmodel = read_ann_index(spark, path)
    assert rmodel.coarse == "kmeans"
    assert rmodel.cent_d == model.cent_d  # exact double round-trip
    q = emb.where(F.col("vec_id") % 100 == 0)
    got = ann_index_topk(rindex, q, rmodel, k=10, rescore=0)
    want = ann_index_topk(index, q, model, k=10, rescore=0)
    assert _rows(got) == _rows(want)

    # driver-side probe == cluster-side probe list for single queries
    from aqi_featurestore_spark.operators.ann_index import _coarse_builders

    _, probe = _coarse_builders(rmodel)
    rows = (
        emb.where(F.col("vec_id") < 20)
        .select("vec_id", "embedding", probe("embedding").alias("p"))
        .collect()
    )
    for r in rows:
        assert probe_cells(rmodel, r["embedding"]) == list(r["p"]), r["vec_id"]


def test_create_refuses_live_model_overwrite(spark, emb, built, tmp_path):
    """mode='create' on a path with existing model tables must refuse:
    overwriting codebooks in place would mis-decode every index row not
    re-encoded in the same write (the round-6 ADVICE hazard)."""
    index, model = built
    path = str(tmp_path / "annidx")
    write_ann_index(index, model, path)
    with pytest.raises(ValueError, match="already exist"):
        write_ann_index(index, model, path)
    with pytest.raises(ValueError, match="unknown write_ann_index mode"):
        write_ann_index(index, model, path, mode="replace")


def test_refresh_appends_and_preserves_model(spark, emb, built, tmp_path):
    """mode='refresh': higher-version rows encoded with the PERSISTED
    model append; model tables stay byte-identical; current_index
    resolves the refreshed codes."""
    from aqi_featurestore_spark.operators.ann_index import encode_with_model

    index, model = built
    path = str(tmp_path / "annidx")
    write_ann_index(index, model, path)
    before = _rows(spark.read.parquet(f"{path}/coarse"))

    rindex, rmodel = read_ann_index(spark, path)
    re_rows = encode_with_model(
        emb.where(F.col("vec_id") < 5), rmodel, version=2
    )
    write_ann_index(re_rows, rmodel, path, mode="refresh")

    assert _rows(spark.read.parquet(f"{path}/coarse")) == before
    cur = current_index(spark.read.parquet(f"{path}/index"))
    assert cur.count() == index.count()
    got = {
        r["version"]
        for r in cur.where(F.col("n_id") < 5).select("version").collect()
    }
    assert got == {2}


def test_encode_with_model_matches_build(spark, emb, built):
    """Encoding against the read-back model reproduces the build's own
    index rows bit-for-bit — the refresh path can't drift from the
    build path."""
    from aqi_featurestore_spark.operators.ann_index import encode_with_model

    index, model = built
    re_enc = encode_with_model(emb, model, version=1)
    assert _rows(re_enc) == _rows(index)


def test_filtered_lookup_filter_then_search(spark, emb):
    """Filtered ANN: the predicate prunes BEFORE scoring. Every result
    must satisfy the predicate, queries get their full top-k among
    matching rows, and the result differs from post-filtering the
    unfiltered top-k (which would return < k rows for queries whose
    neighborhoods are mostly excluded)."""
    from aqi_featurestore_spark.operators.ann_index import (
        ann_index_topk,
        build_ann_index,
    )

    index, model = build_ann_index(
        emb, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16,
        attr_cols=("label",),
    )
    index = index.localCheckpoint()
    q = emb.where(F.col("vec_id") % 50 == 0)
    even = F.col("label") % 2 == 0
    filtered = ann_index_topk(
        index, q, model, k=10, rescore=50, rerank_vectors=emb, where=even
    ).collect()
    even_ids = {
        r["vec_id"] for r in emb.where(even).select("vec_id").collect()
    }
    assert filtered and all(r["n_id"] in even_ids for r in filtered)

    unfiltered = ann_index_topk(
        index, q, model, k=10, rescore=50, rerank_vectors=emb
    ).collect()
    post = [r for r in unfiltered if r["n_id"] in even_ids]
    # filter-then-search keeps full depth; post-filter loses rows
    assert len(filtered) > len(post)


def test_refresh_refuses_mismatched_model(spark, emb, built, tmp_path):
    """Round-7 ADVICE: mode='refresh' must verify the passed model
    against the persisted coarse/books tables — rows encoded with a
    refit model would mis-decode against the stored codebooks. Also:
    refresh against a path with no model tables refuses."""
    import dataclasses

    from aqi_featurestore_spark.operators.ann_index import encode_with_model

    index, model = built
    path = str(tmp_path / "annidx")
    with pytest.raises(ValueError, match="no persisted model"):
        write_ann_index(index, model, path, mode="refresh")
    write_ann_index(index, model, path)
    # perturb one codebook centroid -> a "refit" model
    bad_books = [[list(c) for c in s] for s in model.books]
    bad_books[0][0][0] += 1.0
    bad = dataclasses.replace(model, books=bad_books)
    rows = encode_with_model(emb.where(F.col("vec_id") < 3), bad, version=2)
    with pytest.raises(ValueError, match="does not match the persisted"):
        write_ann_index(rows, bad, path, mode="refresh")
    # the true persisted model still refreshes fine
    _, rmodel = read_ann_index(spark, path)
    ok = encode_with_model(emb.where(F.col("vec_id") < 3), rmodel, version=2)
    write_ann_index(ok, rmodel, path, mode="refresh")


def test_as_of_time_travel_replay(spark, emb, built, tmp_path):
    """Versioned-PIT discipline on the index (round-7 verdict ask #7):
    a lookup replayed as_of the pre-refresh version must match the
    archived pre-refresh result exactly, while the current lookup sees
    the refreshed rows."""
    from aqi_featurestore_spark.operators.ann_index import encode_with_model

    index, model = built
    path = str(tmp_path / "annidx")
    write_ann_index(index, model, path)
    q = emb.where(F.col("vec_id") % 100 == 7)

    def serve(idx):
        return ann_index_topk(
            current_index(idx), q, model, k=5, rescore=20, rerank_vectors=emb
        )

    archived = _rows(serve(spark.read.parquet(f"{path}/index")))
    # refresh: re-embed vec_id < 50 with SHIFTED vectors (codes change)
    shifted = emb.where(F.col("vec_id") < 50).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).cast("array<float>").alias(
            "embedding"
        ),
    )
    rows2 = encode_with_model(shifted, model, version=2)
    write_ann_index(rows2, model, path, mode="refresh")

    idx_asof, _ = read_ann_index(spark, path, as_of=1)
    assert _rows(serve(idx_asof)) == archived
    idx_cur, _ = read_ann_index(spark, path)
    assert _rows(serve(idx_cur)) != archived


def test_vacuum_ann_index_contract(spark, emb, built, tmp_path):
    """Vacuum keep-contract: current_index and every in-window as_of
    read bit-identical before/after; data files shrink; below-floor
    as_of raises; protected versions refuse."""
    from aqi_featurestore_spark.operators.ann_index import (
        encode_with_model,
        index_retention_floor,
        vacuum_ann_index,
    )
    from aqi_featurestore_spark.sources import fs

    index, model = built
    path = str(tmp_path / "annidx")
    write_ann_index(index, model, path)
    for v in (2, 3, 4):
        sub = emb.where(F.col("vec_id") < 20 * v)
        write_ann_index(
            encode_with_model(sub, model, version=v), model, path, mode="refresh"
        )
    cur_before = _rows(current_index(spark.read.parquet(f"{path}/index")))
    asof3_before = _rows(current_index(spark.read.parquet(f"{path}/index"), as_of=3))
    files_before = len(fs.list_data_files(spark, f"{path}/index"))

    with pytest.raises(ValueError, match="protected versions"):
        vacuum_ann_index(spark, path, keep_versions=2, protect=(1,))
    stats = vacuum_ann_index(spark, path, keep_versions=2)
    assert stats["min_as_of"] == 3
    assert index_retention_floor(spark, path) == 3
    assert stats["files_after"] < files_before
    assert stats["rows_after"] < stats["rows_before"]

    idx_cur, _ = read_ann_index(spark, path)
    assert _rows(current_index(idx_cur)) == cur_before
    idx3, _ = read_ann_index(spark, path, as_of=3)
    assert _rows(current_index(idx3)) == asof3_before
    with pytest.raises(ValueError, match="retention floor"):
        read_ann_index(spark, path, as_of=2)


def test_zero_norm_row_that_is_never_a_candidate_serves(spark, emb, built):
    """The exact re-rank normalizes only its candidates: a zero-norm row
    in ``rerank_vectors`` that no probe reaches (it is not in the index)
    leaves the serve unchanged. A build over a zero-norm row succeeds
    and leaves the row out of the index: the rest of the index is the
    build without it."""
    index, model = built
    zero = spark.createDataFrame(
        [(10**9, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    with_zero = emb.unionByName(zero)
    q = emb.where(F.col("vec_id") % 50 == 0)
    got = ann_index_topk(index, q, model, k=10, rescore=50, rerank_vectors=with_zero)
    want = ann_index_topk(index, q, model, k=10, rescore=50, rerank_vectors=emb)
    assert _rows(got) == _rows(want)
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    index0, model0 = build_ann_index(
        with_zero, n_lists=16, n_probe=4, n_subspaces=4, n_codes=16
    )
    assert index0.where(F.col("n_id") == 10**9).count() == 0
    assert _rows(index0) == _rows(index)
    assert (model0.cent_q, model0.books) == (model.cent_q, model.books)


def test_warm_serve_construction_runs_no_job_and_few_py4j_commands(spark):
    """Construct-layer pin: once the session's ANN store is warm, building
    the ``ann_index_serve`` plan launches no Spark job (the embeddings
    read has a declared schema) and stays under a py4j-command ceiling
    (every vector expression is one SQL string; the lambda-built forms
    took 3,200 to 3,800 such commands; the SQL forms about 950)."""
    from py4j.clientserver import ClientServerConnection

    from aqi_featurestore_spark.plans import QUERIES

    serve = QUERIES["ann_index_serve"]
    serve(spark, SF_DIR)  # warm: builds the session fits and store
    sc = spark.sparkContext
    group = "ann-serve-construct-pin"
    sends = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        # py4j's garbage-collection notices ("m" memory commands) follow
        # the Python GC, not the construction; count the rest
        if not command.startswith("m\n"):
            sends.append(1)
        return send(self, command, *args, **kwargs)

    sc.setJobGroup(group, "warm construction")
    try:
        ClientServerConnection.send_command = counting
        try:
            serve(spark, SF_DIR)
        finally:
            ClientServerConnection.send_command = send
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert 0 < len(sends) < 1500, len(sends)
