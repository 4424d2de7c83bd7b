"""The schema a store write records (`_schema.json`, see `sources/fs`):
every store read is built from it without a schema-inference job, it
reads the same rows schema inference reads, it survives the store's
rewrites, a store whose every file was retired reads as empty, and an
append that differs from it is refused."""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.operators import ann_index, impact_index, model_store
from aqi_featurestore_spark.operators import near_dedup, sketches
from aqi_featurestore_spark.registry import FeatureView
from aqi_featurestore_spark.sources import fs
from aqi_featurestore_spark.sources.manifests import SnapshotManifests
from aqi_featurestore_spark.sources.offline_store import OfflineStore
from aqi_featurestore_spark.store import FeatureStore

VIEW = FeatureView(
    name="v",
    entities=("entity_id",),
    ttl=timedelta(days=7),
    features=(("aqi", "double"), ("hour", "int")),
    source="offline/v",
)
SCHEMA = "entity_id string, feature_timestamp timestamp, aqi double, hour int"


def _utc(*args) -> datetime:
    return datetime(*args, tzinfo=timezone.utc)


def _batch(spark, day: int):
    return spark.createDataFrame(
        [
            ("a", _utc(2024, 3, day, 23, 30), 10.0 * day, 23),
            ("b", _utc(2024, 3, day, 0, 15), 10.0 * day + 1, 0),
        ],
        SCHEMA,
    )


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("recorded")
    store = FeatureStore(spark, str(root / "fs"))
    store.apply(VIEW)
    stats = OfflineStore(spark, str(root / "stats"), stat_cols=("aqi",))
    for day in (1, 2):
        store.write_offline("v", _batch(spark, day))
        stats.append(_batch(spark, day))
    store.write_to_online_store("v", _batch(spark, 2))
    return SimpleNamespace(store=store, stats=stats)


def _keys(spark):
    return spark.createDataFrame([("a",), ("b",), ("zz",)], "entity_id string")


def _spine(spark):
    return spark.createDataFrame(
        [("a", _utc(2024, 3, 2, 12)), ("b", _utc(2024, 3, 3))],
        "entity_id string, event_timestamp timestamp",
    )


CONSTRUCTIONS = {
    "get_online_features": lambda s, spark: s.store.get_online_features(
        "v", _keys(spark)
    ),
    "read_offline": lambda s, spark: s.store.read_offline("v"),
    "read_offline_as_of": lambda s, spark: s.store.read_offline("v", as_of=1),
    "read_where_ge": lambda s, spark: s.stats.read(where_ge=("aqi", 15.0)),
    "read_where_ge_all_skipped": lambda s, spark: s.stats.read(
        where_ge=("aqi", 1e9)
    ),
    "get_historical_features": lambda s, spark: s.store.get_historical_features(
        _spine(spark), ["v:aqi", "v:hour"]
    ),
}


def _jobs(spark, group: str, call) -> int:
    """The number of Spark jobs ``call()`` launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", list(CONSTRUCTIONS))
def test_store_read_construction_runs_no_job(spark, stores, name):
    """Construct-layer pin: with the schema recorded at write time, no
    store read runs a parquet schema-inference job while it is built."""
    build = CONSTRUCTIONS[name]
    build(stores, spark).collect()  # the read works, and nothing is cold
    group = f"store-construct-pin-{name}"
    assert _jobs(spark, group, lambda: build(stores, spark)) == 0


def _typed(df) -> list:
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _rows(df, cols) -> list:
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()), key=lambda r: repr(r)
    )


def test_recorded_schema_reads_the_rows_inference_reads(spark, tmp_path):
    """UTC timestamps near midnight, int and long widths, nulls, and the
    int partition columns read the same with the record as without."""
    batch = spark.createDataFrame(
        [
            ("a", _utc(2024, 1, 31, 23, 59, 59), 7, 2**40, None, "x"),
            ("b", _utc(2024, 2, 1, 0, 0, 1), None, -3, 1.5, None),
            ("c", _utc(2023, 12, 31, 12), -(2**31), None, -2.5, "z"),
        ],
        "entity_id string, feature_timestamp timestamp, n int, big long,"
        " aqi double, tag string",
    )
    offline = OfflineStore(spark, str(tmp_path / "offline"))
    offline.append(batch)
    recorded, inferred = offline.read(), spark.read.parquet(offline.path)
    assert _typed(recorded) == _typed(inferred)
    assert dict(_typed(recorded))["year"] == "int"
    assert _rows(recorded, inferred.columns) == _rows(inferred, inferred.columns)
    parts = sorted((r.entity_id, r.year, r.month, r.day) for r in recorded.collect())
    assert parts == [("a", 2024, 1, 31), ("b", 2024, 2, 1), ("c", 2023, 12, 31)]

    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.apply(VIEW)
    nulls = spark.createDataFrame([("c", _utc(2024, 3, 1), None, None)], SCHEMA)
    store.write_to_online_store("v", _batch(spark, 1).union(nulls))
    inferred = spark.read.parquet(store._online_path("v"))
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "entity_id string")
    served = store.get_online_features("v", keys, as_of=F.lit(_utc(2024, 3, 2)))
    assert _typed(served) == _typed(inferred)
    assert _rows(served, served.columns) == _rows(inferred, served.columns)


def test_schema_record_survives_compact_and_materialize(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.apply(VIEW)
    for day in (1, 2, 3):
        store.write_offline("v", _batch(spark, day))
    offline = store._offline(VIEW)
    before = _rows(offline.read(), offline.read().columns)
    offline.compact()
    assert os.path.exists(os.path.join(offline.path, fs.SCHEMA_FILE))
    assert _rows(offline.read(), offline.read().columns) == before

    store.materialize("v")
    online = store._online_path("v")
    assert os.path.exists(os.path.join(online, fs.SCHEMA_FILE))
    served = store.get_online_features(
        "v", _keys(spark), as_of=F.lit(_utc(2024, 3, 4))
    ).collect()
    assert {r.entity_id: r.aqi for r in served} == {"a": 30.0, "b": 31.0, "zz": None}


def _regs(spark, day: int):
    toks = spark.createDataFrame(
        [(1, f"t{day}"), (2, f"u{day}")], "g int, token string"
    )
    return sketches.hll_registers(toks, ["g"], "token")


#: store kind -> (append, batch of a day, a nullable column, an int column)
APPEND_GUARDS = {
    "offline": (
        lambda spark, p, b: OfflineStore(spark, p).append(b), _batch, "aqi", "hour"
    ),
    "sketch_partial": (lambda spark, p, b: fs.append(spark, p, b), _regs, "m", "g"),
}


@pytest.mark.parametrize(
    "kind,change",
    [
        pytest.param("offline", "extra", id="extra_column"),
        pytest.param("offline", "type", id="type_change"),
        pytest.param("sketch_partial", "extra", id="sketch_partial-extra_column"),
        pytest.param("sketch_partial", "type", id="sketch_partial-type_change"),
    ],
)
def test_append_refuses_a_batch_that_differs_from_the_record(
    spark, tmp_path, kind, change
):
    append, batch, nullable, narrow = APPEND_GUARDS[kind]
    path = str(tmp_path / kind)
    append(spark, path, batch(spark, 1))
    # nullability is not part of the check
    day2 = batch(spark, 2)
    zero = F.lit(0).cast(dict(day2.dtypes)[nullable])
    append(spark, path, day2.withColumn(nullable, F.coalesce(nullable, zero)))
    files = fs.list_data_files(spark, path)
    day3 = batch(spark, 3)
    if change == "extra":
        bad, col = day3.withColumn("note", F.lit("extra")), "note"
    else:
        bad, col = day3.withColumn(narrow, F.col(narrow).cast("long")), narrow

    def refused():
        with pytest.raises(ValueError, match=rf"\b{col} \("):
            append(spark, path, bad)

    # refused before the batch or the store is read: no job, no file
    assert _jobs(spark, f"append-guard-{kind}-{change}", refused) == 0
    assert fs.list_data_files(spark, path) == files
    assert fs.read_dir(spark, path).count() == 4


# -- the other stores: model registry, ANN index, sketches, impact index,
# -- signature index and the curated corpus


_TEXT = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "completely different text about mountain rivers"),
    (3, "a third subject entirely concerning bird migration"),
]


@pytest.fixture(scope="module")
def logs(spark, tmp_path_factory):
    """One of each store, every one written through its package writer
    and holding files in every partition column it has."""
    from aqi_featurestore_spark.streaming.jobs import run_dedup_ingest_stream

    root = tmp_path_factory.mktemp("store-logs")
    p = SimpleNamespace(**{
        n: str(root / n)
        for n in ("model", "ann", "hll", "kmv", "zone", "cms", "impact", "sig", "corpus")
    })
    weights = spark.createDataFrame(
        [(i, 10 * i) for i in range(5)], "term_id int, w_micro long"
    )
    meta = model_store.ModelMeta(n_train=10, gd_rounds=1, lr_num=1)
    for v in (1, 2):
        model_store.write_model(weights, p.model, version=v, dim=4, meta=meta)

    rng = random.Random(7)
    vecs = spark.createDataFrame(
        [(i, [rng.random() for _ in range(8)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    index, model = ann_index.build_ann_index(
        vecs, n_lists=4, n_probe=2, n_subspaces=2, n_codes=4, dim=8
    )
    ann_index.write_ann_index(index, model, p.ann)

    docs = spark.createDataFrame(_TEXT, "doc_id long, text string")
    words = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("g"),
        F.explode(F.split("text", " ")).alias("token"),
        F.length("text").alias("x"),
    )
    for day in (1, 2):
        batch = words.where(F.col("doc_id") != day)
        sketches.write_sketch_partial(
            sketches.hll_registers(batch, ["g"], "token"), p.hll
        )
        sketches.write_sketch_partial(
            sketches.kmv_partial(batch, ["g"], "token"), p.kmv
        )
        sketches.write_sketch_partial(
            sketches.zone_minmax(batch, ["g"], ["x"]), p.zone
        )
    cells = sketches.cms_cells(words, ["g"], "token")
    for epoch in (1, 2, 3):
        sketches.write_cms_partial(cells, p.cms, epoch)
        if epoch == 2:
            sketches.compact_cms_store(spark, p.cms, ["g"])

    for epoch in (1, 2, 3):
        impact_index.write_impact_partial(
            docs.where(F.col("doc_id") == epoch), p.impact, epoch
        )
        if epoch == 2:
            impact_index.refresh_impact_weights(spark, p.impact)
            impact_index.compact_impact_store(spark, p.impact)

    near_dedup.write_signature_index(docs, p.sig)

    src = root / "docs_src"
    docs.write.parquet(str(src))
    run_dedup_ingest_stream(
        spark, str(src), docs.schema, p.corpus, str(root / "ckpt"),
        signature_index_path=str(root / "corpus_sig"),
    )
    return p


def _fold_dir(spark, root: str, marker: str) -> str:
    rel = json.loads(fs.read_text(spark, f"{root}/{marker}"))["dir"]
    return f"{root}/{rel}"


#: store table -> its path under the ``logs`` fixture
STORE_TABLES = {
    "model_weights": lambda spark, p: f"{p.model}/weights",
    "model_meta": lambda spark, p: f"{p.model}/meta",
    "ann_index": lambda spark, p: f"{p.ann}/index",
    "ann_coarse": lambda spark, p: f"{p.ann}/coarse",
    "ann_books": lambda spark, p: f"{p.ann}/books",
    "hll": lambda spark, p: p.hll,
    "kmv": lambda spark, p: p.kmv,
    "zone": lambda spark, p: p.zone,
    "cms_partials": lambda spark, p: f"{p.cms}/partials",
    "cms_base": lambda spark, p: f"{p.cms}/base",
    "impact_postings": lambda spark, p: f"{p.impact}/postings",
    "impact_meta": lambda spark, p: f"{p.impact}/meta",
    "impact_weights": lambda spark, p: _fold_dir(spark, p.impact, "weights.fold.json"),
    "impact_base": lambda spark, p: _fold_dir(
        spark, p.impact, "postings_base.fold.json"
    ),
    "signature_index": lambda spark, p: p.sig,
    "corpus": lambda spark, p: p.corpus,
}

#: int partition columns, which inference reads as int too
INT_PARTITIONS = {
    "ann_index": "list_id",
    "cms_partials": "epoch",
    "cms_base": "fold_epoch",
    "impact_postings": "epoch",
    "impact_meta": "epoch",
    "signature_index": "band",
}


@pytest.mark.parametrize("table", list(STORE_TABLES))
def test_every_store_reads_the_rows_inference_reads(spark, logs, table):
    path = STORE_TABLES[table](spark, logs)
    assert fs.recorded_schema(spark, path) is not None
    recorded, inferred = fs.read_dir(spark, path), spark.read.parquet(path)
    assert _typed(recorded) == _typed(inferred)
    assert _rows(recorded, inferred.columns) == _rows(inferred, inferred.columns)
    assert recorded.count() > 0
    if table in INT_PARTITIONS:
        assert dict(_typed(recorded))[INT_PARTITIONS[table]] == "int"


#: store read -> (call, Spark jobs it launches: only its own collects)
STORE_READS = {
    "read_model": (lambda spark, p: model_store.read_model(spark, p.model), 2),
    "read_model_pinned": (
        lambda spark, p: model_store.read_model(spark, p.model, version=1), 2
    ),
    "list_models": (lambda spark, p: model_store.list_models(spark, p.model), 0),
    "read_ann_index": (lambda spark, p: ann_index.read_ann_index(spark, p.ann), 2),
    "read_merged_registers": (
        lambda spark, p: sketches.read_merged_registers(spark, p.hll, ["g"]), 0
    ),
    "read_merged_kmv": (
        lambda spark, p: sketches.read_merged_kmv(spark, p.kmv, ["g"]), 0
    ),
    "read_merged_zone": (
        lambda spark, p: sketches.read_merged_zone(spark, p.zone, ["g"], ["x"]), 0
    ),
    # its jobs are the base watermark's aggregate
    "read_merged_cms": (
        lambda spark, p: sketches.read_merged_cms(spark, p.cms, ["g"]), 2
    ),
    "read_impact_weights": (
        lambda spark, p: impact_index.read_impact_weights(spark, p.impact), 0
    ),
    "lsh_candidates_from_index": (
        lambda spark, p: near_dedup.lsh_candidates_from_index(
            spark.createDataFrame(_TEXT, "doc_id long, text string"), p.sig
        ),
        0,
    ),
    "corpus_as_of": (
        lambda spark, p: SnapshotManifests(spark, p.corpus).read_as_of(1), 0
    ),
}


@pytest.mark.parametrize("name", list(STORE_READS))
def test_store_reads_launch_no_inference_job(spark, logs, name):
    """Job-group pin: each store read launches only the jobs of its own
    collects (a model's weights, an index's two model tables, the CMS
    base watermark), never a parquet schema-inference job."""
    call, want = STORE_READS[name]
    call(spark, logs)  # nothing is cold
    group = f"store-read-pin-{name}"
    assert _jobs(spark, group, lambda: call(spark, logs)) == want


def test_emptied_signature_index_reads_empty_and_refills(spark, tmp_path):
    """Retiring every indexed doc leaves a file-less index; the recorded
    schema reads it as no candidates instead of failing to infer, and
    re-admitting the docs brings their candidates back."""
    docs = spark.createDataFrame(_TEXT[:2], "doc_id long, text string")
    path = str(tmp_path / "sig")
    near_dedup.write_signature_index(docs, path)
    near_dedup.retire_from_signature_index(spark, path, docs.select("doc_id"))
    assert fs.list_data_files(spark, path) == []
    assert near_dedup.lsh_candidates_from_index(docs, path).count() == 0
    near_dedup.write_signature_index(docs, path)
    pairs = {
        (r.d1, r.d2)
        for r in near_dedup.lsh_candidates_from_index(docs, path).collect()
    }
    assert {(1, 1), (2, 2)} <= pairs
