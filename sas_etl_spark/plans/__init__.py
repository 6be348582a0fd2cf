"""Plan inspection & scale auditing (SURVEY.md §4.2)."""

from sas_etl_spark.plans.audit import (
    assert_no_cartesian,
    assert_no_exchange,
    assert_no_single_partition_exchange,
    audit,
    formatted_plan,
    normalized_plan,
)

__all__ = [
    "formatted_plan",
    "normalized_plan",
    "audit",
    "assert_no_cartesian",
    "assert_no_exchange",
    "assert_no_single_partition_exchange",
]
