"""Interleaved A/B for VERDICT r15 #7: do the 6 metadata-light
documents/embeddings consumers that regressed ~0.03-0.1 s in r15
actually lose to the small-scan repartition, per query? Two configs
(current doc+emb membership vs none), interleaved within one
wall-clock window; winners txt_dsir_weights / txt_gopher_repetition
ride along as controls that must KEEP preferring the repartition.

Usage: python tools/docrep_ab_r16.py [sf_dir] [reps]
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
    "doc+emb": frozenset({"documents", "embeddings"}),
    "none": frozenset(),
}

PROBE = [
    # the six r15-flagged regressions (VERDICT "What's wrong" #5)
    "txt_kl_drift",
    "txt_domain_split",
    "txt_doc_features",
    "train_shard_manifest",
    "txt_winnow_fingerprint",
    "sim_quantize_int8",
    # fold-heavy controls: the repartition must keep winning here
    "txt_dsir_weights",
    "txt_gopher_repetition",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="docrep_ab_r16", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    results: dict[str, dict[str, list[float]]] = {
        q: {c: [] for c in CONFIGS} for q in PROBE
    }
    for q in PROBE:
        fn = queries[q]
        # cold per rep: shared caches would otherwise let the first
        # config populate a frame the second config's plan cannot
        # reuse (different scan shape), biasing the comparison
        for cname, tables in CONFIGS.items():
            schemas.PARALLELIZE_SCAN_TABLES = tables
            spark.catalog.clearCache()
            fn(spark, sf_dir).count()
        for _ in range(reps):
            for cname, tables in CONFIGS.items():
                schemas.PARALLELIZE_SCAN_TABLES = tables
                spark.catalog.clearCache()
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
