"""Spark's generated-code cache holds the benchmark queries' working
set: a second round of the same queries compiles no Janino class.

At Spark's default of 100 entries the cache evicts part of the ~140
classes the 17 benchmark queries need, so every repeat round compiles
some of them again (and HotSpot JIT-compiles each new class again).
``session.get_spark`` sizes the cache; ``session.codegen_compiles``
reads the JVM's compile count."""

from __future__ import annotations

from sas_etl_spark.registry import QUERIES, queries_map
from sas_etl_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE

queries_map()


def test_repeat_round_of_benchmark_queries_compiles_nothing(spark):
    from perfbench.workloads import WORKLOADS

    names = [q for w in WORKLOADS.values() for q in w.queries]

    def run_round():
        for name in names:
            QUERIES[name].fn(spark, SF_SMOKE).toArrow().to_pandas()

    run_round()
    before = codegen_compiles(spark)
    run_round()
    assert codegen_compiles(spark) - before == 0
