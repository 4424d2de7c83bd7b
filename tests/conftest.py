from __future__ import annotations

import pytest

from aqi_featurestore_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # A per-run warehouse: tables left behind by a killed run cannot
    # collide with the catalog tables a later run creates.
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        "aqi-featurestore-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield s
    s.stop()
