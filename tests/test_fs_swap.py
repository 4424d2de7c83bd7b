"""The store-rewrite protocol of `sources/fs`: a failed rename never loses
a store, leftovers of a killed run do not change a rewrite's result, and
no module but `sources/fs` renames on the Hadoop FS."""

from __future__ import annotations

import ast
import os
from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.sources import fs

PACKAGE = Path(__file__).resolve().parent.parent / "aqi_featurestore_spark"


def _fail_rename(monkeypatch, nth: int | None) -> list:
    """Make the ``nth`` call of ``fs.rename`` (every call if None) report
    failure without renaming; other calls go through."""
    real = fs.rename
    calls: list = []

    def rename(spark, src, dst):
        calls.append((src, dst))
        if nth is None or len(calls) == nth:
            return False
        return real(spark, src, dst)

    monkeypatch.setattr(fs, "rename", rename)
    return calls


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _plant(spark, path: str, leftover: str | None) -> None:
    """A killed run's leftover: a junk parquet dir at ``{path}.<leftover>``."""
    if leftover is not None:
        spark.createDataFrame([("junk", 0)], "k string, v int").write.mode(
            "overwrite"
        ).parquet(f"{path}.{leftover}")


def _offline_store(spark, tmp_path):
    from aqi_featurestore_spark.sources.offline_store import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "offline"))
    for i in range(3):
        store.append(
            spark.createDataFrame(
                [(f"e{i}", datetime(2024, 2, 1 + i, 10), float(i))],
                "entity_id string, feature_timestamp timestamp, aqi double",
            )
        )
    return store


@pytest.mark.parametrize("leftover", [None, "tmp", "old"])
@pytest.mark.parametrize("target", ["replace_dir", "compact"])
def test_failed_swap_rename_keeps_the_store(spark, tmp_path, monkeypatch, target, leftover):
    if target == "compact":
        store = _offline_store(spark, tmp_path)
        path, read, rewrite = store.path, store.read, store.compact
        after_rewrite = _rows(read())
    else:
        path = str(tmp_path / "dir")
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int").write.parquet(path)
        new = spark.createDataFrame([("c", 3)], "k string, v int")

        def read():
            return spark.read.parquet(path)

        def rewrite():
            fs.replace_dir(spark, path, new)

        after_rewrite = [("c", 3)]
    before = _rows(read())
    _plant(spark, path, leftover)

    calls = _fail_rename(monkeypatch, 2)
    with pytest.raises(IOError):
        rewrite()
    assert len(calls) == 3  # path -> .old, .tmp -> path (fails), rollback
    assert _rows(read()) == before

    monkeypatch.undo()
    _plant(spark, path, leftover)
    rewrite()
    assert _rows(read()) == after_rewrite
    assert not fs.exists(spark, f"{path}.tmp")
    assert not fs.exists(spark, f"{path}.old")


def test_failed_fold_in_rename_keeps_the_sketch_store(spark, tmp_path, monkeypatch):
    from aqi_featurestore_spark.operators.sketches import (
        compact_sketch_store,
        read_merged_registers,
        write_sketch_partial,
    )

    path = str(tmp_path / "hll")
    schema = "source string, idx int, m int"
    write_sketch_partial(spark.createDataFrame([("s", 0, 3), ("s", 1, 1)], schema), path)
    write_sketch_partial(spark.createDataFrame([("s", 0, 2), ("t", 5, 4)], schema), path)
    before = _rows(read_merged_registers(spark, path, ["source"]))

    _fail_rename(monkeypatch, None)
    with pytest.raises(IOError):
        compact_sketch_store(spark, path, ["source"])
    assert _rows(read_merged_registers(spark, path, ["source"])) == before

    monkeypatch.undo()
    stats = compact_sketch_store(spark, path, ["source"])
    assert stats["files_after"] == 1
    assert _rows(read_merged_registers(spark, path, ["source"])) == before
    # the failed run's swap dir is cleared by the next fold
    assert [n for n in os.listdir(tmp_path) if n.startswith("hll.swap-")] == []


def test_swap_killed_between_renames_keeps_the_snapshot(spark, tmp_path):
    """A run killed after ``path -> .old`` and before ``.tmp -> path``
    leaves the store at ``.old``: the next upsert restores it and merges
    into it, and the half-written ``.tmp`` is discarded."""
    from aqi_featurestore_spark.registry import FeatureView
    from aqi_featurestore_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.apply(
        FeatureView("v", ("entity_id",), timedelta(days=7), (("aqi", "double"),), "v")
    )
    schema = "entity_id string, feature_timestamp timestamp, aqi double"
    at = datetime(2024, 2, 1, 10)
    store.write_to_online_store(
        "v", spark.createDataFrame([("a", at, 1.0), ("b", at, 2.0)], schema)
    )
    p = store._online_path("v")
    os.rename(p, f"{p}.old")
    _plant(spark, p, "tmp")

    store.write_to_online_store("v", spark.createDataFrame([("c", at, 3.0)], schema))
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "entity_id string")
    served = store.get_online_features("v", keys, as_of=F.lit(at)).collect()
    assert {r.entity_id: r.aqi for r in served} == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert not fs.exists(spark, f"{p}.tmp")
    assert not fs.exists(spark, f"{p}.old")


def test_read_during_a_swap_renames_nothing(spark, tmp_path, monkeypatch):
    """A read that runs after a live swap's ``path -> .old`` and before
    its ``.tmp -> path`` leaves both dirs where they are: moving
    ``.old`` back would put ``path`` in the way of the writer's second
    rename."""
    from aqi_featurestore_spark.registry import FeatureView
    from aqi_featurestore_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.apply(
        FeatureView("v", ("entity_id",), timedelta(days=7), (("aqi", "double"),), "v")
    )
    schema = "entity_id string, feature_timestamp timestamp, aqi double"
    at = datetime(2024, 2, 1, 10)
    store.write_to_online_store(
        "v", spark.createDataFrame([("a", at, 1.0)], schema)
    )
    p = store._online_path("v")
    os.rename(p, f"{p}.old")
    _plant(spark, p, "tmp")

    calls = _fail_rename(monkeypatch, 99)
    keys = spark.createDataFrame([("a",)], "entity_id string")
    served = store.get_online_features("v", keys, as_of=F.lit(at)).collect()
    assert [(r.entity_id, r.aqi) for r in served] == [("a", None)]
    assert fs.read_dir(spark, p) is None
    assert calls == []
    assert not fs.exists(spark, p)
    assert fs.exists(spark, f"{p}.old") and fs.exists(spark, f"{p}.tmp")


def _hadoop_fs_renames(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "rename"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in ("fs", "_fs")
        ):
            lines.append(node.lineno)
        if (
            isinstance(node, ast.ImportFrom)
            and (node.module or "").endswith("sources.fs")
            and any(a.name == "rename" for a in node.names)
        ):
            lines.append(node.lineno)
    return lines


def test_only_sources_fs_renames_on_the_hadoop_fs():
    """Every store rewrite goes through `fs.replace_dir` / `fs.fold_in`:
    a hand-rolled tmp/rename swap elsewhere is how unchecked renames and
    store loss came in."""
    offenders = {}
    for py in sorted(PACKAGE.rglob("*.py")):
        if py == PACKAGE / "sources" / "fs.py":
            continue
        lines = _hadoop_fs_renames(ast.parse(py.read_text(), str(py)))
        if lines:
            offenders[str(py.relative_to(PACKAGE))] = lines
    assert offenders == {}
