"""Interleaved A/B of the r15 small-scan repartition table set.

For each probed query, times 1 warmup + N reps under each configuration
of schemas.PARALLELIZE_SCAN_TABLES, interleaving configurations within
the same wall-clock window so host drift cannot masquerade as a config
effect. Prints one JSON line per (query, config) with the median/min.

Usage: python tools/scan_repart_ab.py [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark import schemas
from simple_etl_pipeline_spark.session import get_spark

CONFIGS = {
    "doc+emb+ev": frozenset({"documents", "embeddings", "events"}),
    "doc+emb": frozenset({"documents", "embeddings"}),
    "none": frozenset(),
}

PROBE = [
    # flagged regressions (events / embeddings consumers)
    "ev_tumbling_hourly",
    "ev_retention_cohorts",
    "ev_scd2_users",
    "ev_zorder_layout",
    "dq_embedding_drift",
    # claimed winners of the repartition (heavy per-row compute)
    "ev_quantile_sketch",
    "ev_mad_outliers",
    "txt_gopher_repetition",
    "txt_dsir_weights",
    "sim_rp_recall",
    # cheap events rows not flagged (regression may hide in noise)
    "ev_session_windows",
    "ev_gap_fill",
    "ev_trimmed_mean",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="scan_repart_ab", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    results: dict[str, dict[str, list[float]]] = {
        q: {c: [] for c in CONFIGS} for q in PROBE
    }
    for q in PROBE:
        fn = queries[q]
        # warmup once per config (codegen differs per plan shape)
        for cname, tables in CONFIGS.items():
            schemas.PARALLELIZE_SCAN_TABLES = tables
            fn(spark, sf_dir).count()
        for _ in range(reps):
            for cname, tables in CONFIGS.items():
                schemas.PARALLELIZE_SCAN_TABLES = tables
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.count()
                results[q][cname].append(time.perf_counter() - t0)
                from simple_etl_pipeline_spark.plans.relational import (
                    release_barriers_for,
                )

                release_barriers_for(df)
        row = {
            "query": q,
            **{
                c: {
                    "median": round(statistics.median(v), 3),
                    "min": round(min(v), 3),
                }
                for c, v in results[q].items()
            },
        }
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
