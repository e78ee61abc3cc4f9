"""Measure DataFrame CONSTRUCTION cost (py4j + eager analysis, no
jobs) per query: median over N fresh fn(spark, sf_dir) builds.

Usage: python tools/build_cost_probe.py q1,q2,... [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.session import get_spark


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark(app_name="build_cost_probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from simple_etl_pipeline_spark.plans.relational import (
        release_barriers_for,
    )

    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)  # warmup build (module-level memos fill)
        release_barriers_for(df)
        builds = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            builds.append(time.perf_counter() - t0)
            release_barriers_for(df)
        print(
            json.dumps(
                {
                    "query": name,
                    "build_median_s": round(statistics.median(builds), 3),
                    "build_min_s": round(min(builds), 3),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
