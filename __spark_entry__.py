"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke);
``queries()`` / ``oracle_sql()`` expose the declared query set from
``etlp_spark.queries`` (one entry per operator family, SURVEY.md §2),
validated by the driver against DuckDB at sf=0.01.

Cache contract: 15 declared queries (x16 and x114 among them) leave
``persist()``ed frames behind after their result is consumed, and
only the session-global ``spark.catalog.clearCache()`` releases them.
A host application that shares the session and calls it between
queries also drops its OWN cached relations; one that does not call
it keeps the queries' cached blocks until the session ends.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    from etlp_spark.queries import QUERIES

    return QUERIES["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from etlp_spark.queries import query_fns

    return query_fns()


def oracle_sql() -> dict[str, str]:
    from etlp_spark.queries import oracle_sqls

    return oracle_sqls()
