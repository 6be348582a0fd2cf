"""Sources & sinks (SURVEY.md §2.1): readers and writers wrapping
spark.read/write with the engine's conventions (explicit schemas, no
runtime inference in production paths)."""

from sas_etl_spark.sources.readers import read_binary_dir, read_csv, read_json, read_orc
from sas_etl_spark.sources.writers import (
    append_to,
    multi_output_split,
    write_bucketed,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
    written_schema,
)

__all__ = [
    "read_csv",
    "read_json",
    "read_orc",
    "read_binary_dir",
    "write_parquet",
    "write_csv",
    "write_json",
    "write_orc",
    "append_to",
    "multi_output_split",
    "write_bucketed",
    "written_schema",
]
