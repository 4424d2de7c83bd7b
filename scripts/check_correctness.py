#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry against its ``oracle_sql()`` at a chosen scale factor.

Usage: python scripts/check_correctness.py [sf_dir] [name_substr ...]
(optional name substrings restrict the run to matching queries)

Each line gives the query's Spark seconds (construct + collect) and its
DuckDB oracle seconds separately.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from aqi_featurestore_spark.plans import ORACLE_SQL, QUERIES  # noqa: E402
from aqi_featurestore_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import compare_frames, oracle_frame  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    names = [
        n for n in sorted(QUERIES) if not only or any(s in n for s in only)
    ]
    spark = get_spark("correctness-check")
    failures = []
    for name in names:
        spark_s = oracle_s = 0.0
        t0 = time.time()
        try:
            df = QUERIES[name](spark, sf_dir)
            if name in ORACLE_SQL:
                mine = df.toPandas()
                t1 = time.time()
                spark_s = t1 - t0
                oracle = oracle_frame(ORACLE_SQL[name], sf_dir)
                oracle_s = time.time() - t1
                compare_frames(mine, oracle)
                status = "MATCH"
            else:
                n = df.count()
                spark_s = time.time() - t0
                status = f"ROWS-ONLY ({n} rows)"
        except Exception as e:  # noqa: BLE001
            status = f"FAIL: {str(e)[:300]}"
            failures.append(name)
        print(
            f"{name:28s} spark {spark_s:6.2f}s  oracle {oracle_s:6.2f}s  {status}"
        )
    print(f"\n{len(names) - len(failures)}/{len(names)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
