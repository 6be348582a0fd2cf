"""Rewrite the golden plans: ``python -m sas_etl_spark.plans [names...]``.

Run from the repo root. With no names, every existing
``plans/golden/<query>.txt`` is rewritten; name a query to add its
golden. Plans are built at the sf0.001 smoke fixture, as the registry
sweep in tests/test_plan_audit.py builds them.
"""

from __future__ import annotations

import sys

from __spark_entry__ import SMOKE_SF_DIR
from sas_etl_spark.plans.audit import GOLDEN_DIR, normalized_plan
from sas_etl_spark.registry import QUERIES, queries_map
from sas_etl_spark.session import get_spark


def main(names: list[str]) -> None:
    queries_map()
    names = names or sorted(p.stem for p in GOLDEN_DIR.glob("*.txt"))
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"not registered: {unknown}")
    spark = get_spark("sas_etl_spark-golden-plans", shuffle_partitions=8)
    try:
        for name in names:
            path = GOLDEN_DIR / f"{name}.txt"
            path.write_text(normalized_plan(QUERIES[name].fn(spark, SMOKE_SF_DIR)))
            print(f"wrote {path}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
