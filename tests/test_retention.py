"""The retention protocol of the versioned stores (the model registry and
the ANN index): the floor is the `sources/manifests` floor marker, read
without a Spark job, and a vacuum advances it before it swaps the
compacted table in."""

from __future__ import annotations

import pytest

from aqi_featurestore_spark.operators.ann_index import (
    index_retention_floor,
    vacuum_ann_index,
)
from aqi_featurestore_spark.operators.model_store import (
    read_model,
    retention_floor,
    vacuum_model_registry,
    write_model,
)
from aqi_featurestore_spark.sources import fs


def _publish(spark, path: str, n_versions: int) -> None:
    for v in range(1, n_versions + 1):
        write_model(
            spark.createDataFrame(
                [(0, 10 * v), (1, -v), (2, v)], "term_id int, w_micro long"
            ),
            path,
            version=v,
            dim=2,
        )


def _jobs_of(spark, name: str, call):
    """``call()``'s result and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"retention-pin-{name}"
    sc.setJobGroup(group, "retention floor read")
    try:
        out = call()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_floor_reads_run_no_job(spark, tmp_path):
    models = str(tmp_path / "models")
    _publish(spark, models, 3)
    assert vacuum_model_registry(spark, models, keep_versions=1)["min_as_of"] == 3

    index = str(tmp_path / "annidx")
    spark.createDataFrame(
        [(n, v, n % 2, n * v) for n in range(4) for v in (1, 2, 3)],
        "n_id long, version long, list_id int, c0 int",
    ).write.partitionBy("list_id").parquet(f"{index}/index")
    assert vacuum_ann_index(spark, index, keep_versions=2)["min_as_of"] == 2

    assert _jobs_of(spark, "model", lambda: retention_floor(spark, models)) == (3, [])
    assert _jobs_of(
        spark, "index", lambda: index_retention_floor(spark, index)
    ) == (2, [])
    assert fs.exists(spark, f"{models}/floor.json")
    assert not fs.exists(spark, f"{models}/retention")
    assert not fs.exists(spark, f"{index}/retention")


def test_vacuum_advances_the_floor_before_the_swap(spark, tmp_path, monkeypatch):
    """A vacuum whose swap fails has already recorded its floor: the
    store keeps its full history, the current and in-window reads do not
    change, and a pin below the new floor raises."""
    path = str(tmp_path / "models")
    _publish(spark, path, 5)
    current = read_model(spark, path)
    v4 = read_model(spark, path, version=4)
    files = fs.list_data_files(spark, f"{path}/weights")

    def swap_killed(*args, **kwargs):
        raise IOError("swap killed")

    monkeypatch.setattr(fs, "replace_dir", swap_killed)
    with pytest.raises(IOError, match="swap killed"):
        vacuum_model_registry(spark, path, keep_versions=2)
    assert retention_floor(spark, path) == 4
    assert fs.list_data_files(spark, f"{path}/weights") == files
    assert read_model(spark, path) == current
    assert read_model(spark, path, version=4) == v4
    with pytest.raises(ValueError, match="retention floor"):
        read_model(spark, path, version=3)

    # the next vacuum finishes the compaction at the same floor
    monkeypatch.undo()
    stats = vacuum_model_registry(spark, path, keep_versions=2)
    assert stats["min_as_of"] == 4 and stats["files_after"] < len(files)
    assert read_model(spark, path) == current
    assert read_model(spark, path, version=4) == v4
