"""Every name a package lists in ``__all__`` must resolve: a helper that is
deleted while its export stays behind fails here, not in a user's import."""

from __future__ import annotations

import importlib

import pytest

PACKAGES = (
    "aqi_featurestore_spark",
    "aqi_featurestore_spark.operators",
    "aqi_featurestore_spark.functions",
    "aqi_featurestore_spark.sources",
    "aqi_featurestore_spark.streaming",
    "aqi_featurestore_spark.plans",
)


@pytest.mark.parametrize("package", PACKAGES)
def test_all_exports_resolve(package):
    mod = importlib.import_module(package)
    names = mod.__all__
    assert names, f"{package}.__all__ is empty"
    for name in names:
        getattr(mod, name)
