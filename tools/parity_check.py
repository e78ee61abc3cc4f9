"""Per-change oracle parity for NAMED queries at one or more SFs —
the focused companion to driver_sim (which sweeps the full registry).

Usage: python tools/parity_check.py q1,q2,... [sf_dir ...]
Defaults to sf0.001 and sf0.01 when no sf_dir is given.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.session import get_spark
from simple_etl_pipeline_spark.testing import compare_with_oracle


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dirs = sys.argv[2:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
    ]
    spark = get_spark(app_name="parity_check", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for sf_dir in sf_dirs:
        spark.catalog.clearCache()
        for name in names:
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
                compare_with_oracle(df, oracles[name], sf_dir)
                status = "hash_ok"
            except Exception as exc:  # noqa: BLE001 - report and continue
                status = f"FAIL: {type(exc).__name__}: {exc}"
                failures.append(f"{name}@{sf_dir}")
            print(
                json.dumps(
                    {
                        "query": name,
                        "sf_dir": sf_dir,
                        "status": status[:300],
                        "wall_s": round(time.perf_counter() - t0, 2),
                    }
                )
            )
    print(json.dumps({"n": len(names) * len(sf_dirs), "failures": failures}))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
