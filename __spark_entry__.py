"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``telecom_competitor_analysis_spark`` (see
SURVEY.md §2 for the operator inventory each query name maps to).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from telecom_competitor_analysis_spark.plans import ORACLES, QUERIES
from telecom_competitor_analysis_spark.plans.registry import ordered_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Latest price per product aggregated per brand — the question the
    reference's star schema exists to answer (reference README.md:5,28).
    """
    return QUERIES["q_agg_latest_price"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in verify
    order: most recently changed plan first, rows-only queries last."""
    return ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query name (same column aliases)."""
    return dict(ORACLES)
