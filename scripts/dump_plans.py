#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to <outdir>/<q>_<suffix>.txt.

Usage: python scripts/dump_plans.py <outdir> <suffix> <query> [query ...]
(e.g. python scripts/dump_plans.py plans/sweep before hybrid_fusion_sweep;
the repo-root plans/ directory is git-ignored, so dumps stay local)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from aqi_featurestore_spark.plans import QUERIES  # noqa: E402
from aqi_featurestore_spark.session import get_spark  # noqa: E402


def main() -> int:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
