"""The session artifact cache (plans/_base.py session_artifact): one
build per (application, corpus content, kind), per-key locking, and no
caching of a build that raises. Builds are counted with closures."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from aqi_featurestore_spark.plans._base import session_artifact


@pytest.fixture
def corpus(tmp_path):
    (tmp_path / "part-0.parquet").write_bytes(b"x" * 16)
    return tmp_path


def _counting(value="v", delay=0.0, started=None):
    calls = []

    def build():
        calls.append(1)
        if started is not None:
            started.set()
        time.sleep(delay)
        return value

    return build, calls


def test_repeat_call_on_unchanged_corpus_is_a_hit(spark, corpus):
    build, calls = _counting(object())
    first = session_artifact(spark, "t_hit", str(corpus), build)
    assert session_artifact(spark, "t_hit", str(corpus), build) is first
    assert len(calls) == 1


def test_extra_key_parts_are_separate_artifacts(spark, corpus):
    build, calls = _counting()
    session_artifact(spark, "t_extra", str(corpus), build, "a")
    session_artifact(spark, "t_extra", str(corpus), build, "b")
    session_artifact(spark, "t_extra", str(corpus), build, "a")
    assert len(calls) == 2


def test_rewritten_corpus_file_is_a_miss(spark, corpus):
    build, calls = _counting()
    session_artifact(spark, "t_rewrite", str(corpus), build)
    (corpus / "part-0.parquet").write_bytes(b"y" * 32)
    session_artifact(spark, "t_rewrite", str(corpus), build)
    assert len(calls) == 2


def test_two_threads_on_one_key_build_once(spark, corpus):
    started = threading.Event()
    build, calls = _counting(delay=1.0, started=started)
    got = []

    def call():
        got.append(session_artifact(spark, "t_race", str(corpus), build))

    first = threading.Thread(target=call)
    first.start()
    assert started.wait(60)
    # the second caller arrives while the first build is still running
    second = threading.Thread(target=call)
    second.start()
    first.join(60)
    second.join(60)
    assert not first.is_alive() and not second.is_alive()
    assert got == ["v", "v"]
    assert len(calls) == 1


def test_many_threads_on_one_key_build_once(spark, corpus):
    build, calls = _counting(delay=0.05)
    gate = threading.Barrier(16)

    def call():
        gate.wait(60)
        session_artifact(spark, "t_stress", str(corpus), build)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1


def test_nested_build_on_another_key_completes(spark, corpus):
    inner, inner_calls = _counting("inner")

    def outer():
        return "outer+" + session_artifact(spark, "t_inner", str(corpus), inner)

    got = []
    t = threading.Thread(
        target=lambda: got.append(
            session_artifact(spark, "t_outer", str(corpus), outer)
        ),
        daemon=True,
    )
    t.start()
    t.join(60)
    assert not t.is_alive(), "nested build deadlocked"
    assert got == ["outer+inner"]
    assert session_artifact(spark, "t_inner", str(corpus), inner) == "inner"
    assert len(inner_calls) == 1


def test_build_that_raises_is_retried(spark, corpus):
    calls = []

    def build():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("transient")
        return "ok"

    with pytest.raises(RuntimeError):
        session_artifact(spark, "t_raise", str(corpus), build)
    assert session_artifact(spark, "t_raise", str(corpus), build) == "ok"
    assert len(calls) == 2
