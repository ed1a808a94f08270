"""PySpark-native analytics engine with the query/data-processing
capabilities of RimshaIshfaq/Youtube-ETL-Automated-Pipeline.

Spark-first re-expression of the reference's dataflow (see SURVEY.md):
the seven-process sheet-mutating pipeline becomes one lazy DataFrame
plan (scan -> window dedup -> dim lookups -> merge join -> agg ->
derive -> write), config dims fold into the plan as literal maps,
state lives in Parquet, and incremental flow is Structured Streaming
``foreachBatch``.

Design posture is 100 TB scale: the only rows operators collect are a
config dim's, under a constant bound (bounded dim collect,
``operators/joins.py::LOOKUP_MAX_ROWS``), facts are never collected or
broadcast, dedup uses windows (not
``dropDuplicates``), AQE is on, and every join declares which side is
broadcastable.
"""

__version__ = "0.1.0"

from youtube_etl_automated_pipeline_spark.session import get_spark
from youtube_etl_automated_pipeline_spark.sources import (
    load_json_dim,
    load_table,
    register_views,
    load_wide,
    widen_scan,
)
from youtube_etl_automated_pipeline_spark.pipeline import build_wide_fact
from youtube_etl_automated_pipeline_spark.sinks import (
    append_table,
    dedup_table_swap,
    flush,
    overwrite_table,
    truncate_staging,
    write_bucketed,
)

__all__ = [
    "get_spark",
    "load_json_dim",
    "load_table",
    "register_views",
    "load_wide",
    "widen_scan",
    "build_wide_fact",
    "append_table",
    "dedup_table_swap",
    "flush",
    "overwrite_table",
    "truncate_staging",
    "write_bucketed",
]
