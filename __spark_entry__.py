"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``oni_ml_spark.entry_queries`` — one entry per
operator from SURVEY.md §2 plus the beyond-reference data-pipeline
operators (dedup / similarity / text analysis / multimodal).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oni_ml_spark.entry_queries import ORACLES, QUERIES, flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end suspicious-connects (featurize → batch LDA →
    broadcast scoring → bottom-K) on the sf0.001 events table."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
