"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash). ``queries()`` and ``oracle_sql()``
list the registry in registration order. The correctness gate is
tier-1's tests/test_oracle_parity.py, which makes the same comparison
for every oracle-paired query on each test run.

Implementation lives in ``sas_etl_spark``; this module only adapts
the registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue by nation: 3-way join + agg) on sf0.001."""
    from sas_etl_spark.queries.joins import q_join3_revenue

    return q_join3_revenue(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sas_etl_spark.registry import queries_map

    return queries_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for each SQL-expressible query."""
    from sas_etl_spark.registry import oracle_sql_map

    return oracle_sql_map()
