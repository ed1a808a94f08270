"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from youtube_etl_automated_pipeline_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001 (SURVEY.md section 7
    step 1: enrich + keep-last dedup + aggregate + guarded ratios)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_pipeline import (
        flagship_enrich_dedup_agg,
    )

    return flagship_enrich_dedup_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``@query`` in plans/, by name (plans/registry.py)."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same parquet tables as views)."""
    return registry.oracle_sql()
