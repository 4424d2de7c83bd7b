"""The engine's Python worker daemon (``aqi_featurestore_spark.worker_daemon``):
the memoized zip-directory reader, and a session that runs its Python tasks
under it."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.worker_daemon import memoized

DAEMON = "aqi_featurestore_spark.worker_daemon"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture()
def reads():
    """The real directory reader, recording every archive it reads."""
    real = zipimport._read_directory
    seen: list[str] = []

    def counting(archive):
        seen.append(archive)
        return real(archive)

    return counting, seen


def _import_fresh(name: str):
    sys.modules.pop(name, None)
    return importlib.import_module(name)


def test_invalidation_rereads_archive_only_when_it_changes(
    tmp_path, reads, monkeypatch
):
    counting, seen = reads
    monkeypatch.setattr(zipimport, "_read_directory", memoized(counting))
    archive = str(tmp_path / "probe.zip")
    first, second = (f"wd_probe_{uuid.uuid4().hex}" for _ in range(2))
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)

    assert _import_fresh(first).VALUE == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert seen.count(archive) == 1

    # a rewrite (new module, new size) is read again and serves the new module
    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2  # longer\n"})
    importlib.invalidate_caches()
    assert seen.count(archive) == 2
    assert _import_fresh(second).VALUE == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert seen.count(archive) == 2
    sys.modules.pop(first, None)
    sys.modules.pop(second, None)


def test_plain_reader_rereads_on_every_invalidation(tmp_path, reads, monkeypatch):
    # the cost the memo removes: without it each invalidation reads the
    # archive again (CPython 3.11); were this to stop holding, the engine
    # daemon would have nothing left to save
    counting, seen = reads
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    archive = str(tmp_path / "plain.zip")
    name = f"wd_plain_{uuid.uuid4().hex}"
    _write_zip(archive, {name: "VALUE = 3\n"})
    monkeypatch.syspath_prepend(archive)
    assert _import_fresh(name).VALUE == 3
    before = seen.count(archive)
    for _ in range(5):
        importlib.invalidate_caches()
    assert seen.count(archive) == before + 5
    sys.modules.pop(name, None)


def test_missing_archive_raises_the_importer_error(tmp_path):
    with pytest.raises(zipimport.ZipImportError):
        memoized(zipimport._read_directory)(str(tmp_path / "absent.zip"))


def test_session_python_tasks_run_under_the_engine_daemon(spark, tmp_path):
    sc = spark.sparkContext

    def main_module(_):
        yield sys.modules["__main__"].__spec__.name

    # this job also starts the workers the udf below reuses
    assert set(sc.parallelize(range(4), 4).mapPartitions(main_module).collect()) == {
        DAEMON
    }

    name = f"wd_pyfile_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "def plus(x):\n    return x + 41\n"})
    sc.addPyFile(archive)

    @F.udf("long")
    def plus(x):
        return importlib.import_module(name).plus(x)

    got = spark.range(1, 5, numPartitions=4).select(plus("id").alias("y")).collect()
    assert sorted(r.y for r in got) == [42, 43, 44, 45]
