"""Writers / sinks (SAS: PROC EXPORT, DATA lib.out, PROC APPEND,
conditional OUTPUT to multiple datasets). SURVEY.md §2.1 #6-7, §2.2 #11.

Scale conventions:
- parquet + optional partitionBy for downstream partition pruning;
- multi-output split tags each row with the sinks whose predicate
  holds and writes ONE partitioned dataset — the SAS DATA step reads
  its input once for N OUTPUTs, and so do we (one scan, one job);
- read-backs carry the schema the write produced (``written_schema``),
  so no Spark job re-infers what the writer already knew.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StringType,
    StructField,
    StructType,
)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines export (SAS: PROC JSON). One object per row; doubles
    serialize via Java's shortest-round-trip toString, so a read-back
    with the explicit schema is bit-lossless."""
    df.write.mode(mode).json(path)


def append_to(df: DataFrame, path: str) -> None:
    """PROC APPEND: add rows to an existing dataset (by-name schema
    evolution is the reader's concern; parquet appends are file-level)."""
    df.write.mode("append").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed, sorted table (SAS analog: indexed dataset).

    Two tables bucketed by the same key and count join WITHOUT a
    shuffle of either side — the physical layout carries the hash
    partitioning. At 100 TB this converts every recurring fact⋈fact
    join on the bucket key from a full shuffle into a zipped local
    merge (tests assert the Exchange-free plan).

    ``path`` makes the table EXTERNAL with data at that location
    (e.g. a session scratch dir, cleaned at exit) instead of the
    cwd-relative spark-warehouse default.
    """
    writer = (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def written_schema(df: DataFrame) -> StructType:
    """The schema Spark's parquet reader infers for the files ``df``
    writes: ``df.schema`` with every nullability flag set, recursively
    through array elements, map values and struct fields (the reader
    declares everything nullable). Passing it to ``spark.read.schema``
    skips the footer-inference job a plain read-back launches."""
    return _nullable(df.schema)


#: Partition column that multi_output_split writes each sink under.
SINK_COL = "sink"


def multi_output_split(
    df: DataFrame, outputs: Mapping[str, Column], base_path: str
) -> DataFrame:
    """Conditional multi-output (SAS: IF cond THEN OUTPUT ds;).

    Tags every row with the names of the outputs whose predicate holds
    and writes once, partitioned by ``sink``: each output is its own
    parquet dataset under ``<base_path>/sink=<name>/``. One scan, one
    write job. A row matching several predicates goes to several
    outputs and a row matching none is written nowhere, as with SAS
    OUTPUT. Returns the read-back of all outputs (``df``'s columns plus
    ``sink``), with the written schema supplied rather than inferred;
    an output no row matched has no directory and reads back empty.
    """
    if SINK_COL.lower() in (c.lower() for c in df.columns):
        raise ValueError(f"input already has a column named {SINK_COL!r}")
    sinks = F.array_compact(
        F.array(*[F.when(pred, F.lit(name)) for name, pred in outputs.items()])
    )
    write_parquet(
        df.withColumn(SINK_COL, F.explode(sinks)), base_path, partition_by=[SINK_COL]
    )
    schema = StructType(
        written_schema(df).fields + [StructField(SINK_COL, StringType(), True)]
    )
    return df.sparkSession.read.schema(schema).parquet(base_path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC export (SAS: PROC EXPORT to a columnar warehouse store).
    Spark ships the ORC data source built-in; like parquet it carries
    types natively (no informat needed on re-read) and supports
    predicate pushdown + column pruning at scan."""
    df.write.mode(mode).orc(path)
