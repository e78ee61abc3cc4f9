"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query (TPC-H Q1 shape) on sf0.001.
queries()     -> every registered operator, one callable each: the
                 merge of each plans/streaming module's QUERIES dict.
oracle_sql()  -> the merge of each module's ORACLES dict: the DuckDB
                 twin of every name in queries(), and of nothing else.

One registry, one contract: every name in queries() has an oracle_sql()
twin its result must hash-match. The order of either dict carries no
meaning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from simple_etl_pipeline_spark.plans.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _all_modules():
    from simple_etl_pipeline_spark.plans import (
        events,
        multimodal,
        reference_parity,
        relational,
        similarity,
        text,
    )
    from simple_etl_pipeline_spark.streaming import events as streaming_events
    from simple_etl_pipeline_spark.streaming import stateful as streaming_stateful

    return [
        reference_parity,
        text,
        similarity,
        multimodal,
        streaming_events,
        streaming_stateful,
        events,
        relational,
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _all_modules():
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _all_modules():
        out.update(mod.ORACLES)
    return out
