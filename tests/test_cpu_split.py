"""``scripts/cpu_split.py`` runs a registry query and prints one CPU split
line per repetition. It runs from a directory outside the repository, so
the query's Python tasks also show that an engine session finds its
worker daemon whatever the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from test_approx import SF_DIR  # the suite's sf0.001 test data

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cpu_split_prints_one_split_per_repetition(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "cpu_split.py"),
         "image_phash_dedup", "--sf", SF_DIR, "--reps", "2",
         "--conf", "spark.driver.memory=1g"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    header = next(i for i, line in enumerate(out) if line.startswith("rep "))
    assert out[header].split() == [
        "rep", "wall_s", "driver", "workers", "task", "jit", "gc", "jvm_other",
        "total",
    ]
    rows = [line.split() for line in out[header + 1 :]]
    assert [r[0] for r in rows] == ["1", "2"]
    # image_phash_dedup decodes in mapInPandas: its Python workers ran
    assert max(float(r[3]) for r in rows) > 0
    for r in rows:
        cells = [float(x) for x in r[1:]]
        # per-thread clock ticks are rounded down, so a difference of
        # sums may read a few ticks below zero
        assert len(cells) == 8 and min(cells) > -0.05
        # the columns add up to the total, and the query costs some CPU
        assert abs(sum(cells[1:-1]) - cells[-1]) < 0.04 and cells[-1] > 0
