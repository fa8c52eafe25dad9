"""Driver contract for the spark-graft builder (PySpark target).

entry(spark):      flagship windowed-funnel FSM query at sf0.001.
queries():         every implemented operator (SURVEY.md §2 + pipeline ops).
oracle_sql():      DuckDB-equivalent SQL per query (correctness gate).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: trck windowed-funnel FSM over the events table."""
    from trck_spark.queries import q_trck_funnel

    return q_trck_funnel(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from trck_spark.pipeline.queries import pipeline_queries
    from trck_spark.queries import spark_queries

    return {**spark_queries(), **pipeline_queries()}


def oracle_sql() -> dict[str, str]:
    from trck_spark.pipeline.queries import pipeline_oracles
    from trck_spark.queries import oracle_sqls

    return {**oracle_sqls(), **pipeline_oracles()}
