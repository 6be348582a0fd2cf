"""Versioned snapshot tables (sources/snapshots.py): atomic publish,
pointer semantics, time travel."""

from __future__ import annotations

import os

import pytest

from sas_etl_spark.sources.snapshots import (
    current_version,
    read_snapshot,
    write_snapshot,
)


def test_publish_read_back_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    assert write_snapshot(df1, table) == 1
    df2 = spark.range(3).withColumnRenamed("id", "k")
    assert write_snapshot(df2, table) == 2

    assert current_version(table) == 2
    assert read_snapshot(spark, table).count() == 3  # current
    assert read_snapshot(spark, table, version=1).count() == 5  # travel
    # v1 files untouched by the v2 publish (immutability)
    assert os.path.isdir(os.path.join(table, "v=1"))


def test_unpublished_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        current_version(str(tmp_path / "nope"))


def test_no_torn_state_files_left_behind(spark, tmp_path):
    table = str(tmp_path / "t2")
    write_snapshot(spark.range(4), table)
    leftovers = [d for d in os.listdir(table) if d.startswith(("_staging", "_ptr"))]
    assert leftovers == []


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Snapshot versions may add columns (dimension evolution);
    mergeSchema readback presents the union schema with nulls for
    pre-evolution rows — the plain-parquet analog of lakehouse schema
    evolution."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "evo")
    v1 = spark.range(3).select(F.col("id").alias("k"))
    write_snapshot(v1, table)
    v2 = spark.range(3).select(
        F.col("id").alias("k"), F.lit("new").alias("extra")
    )
    write_snapshot(v2, table)

    both = (
        spark.read.option("mergeSchema", "true")
        .parquet(table + "/v=1", table + "/v=2")
    )
    assert set(both.columns) == {"k", "extra"}
    assert both.filter(F.col("extra").isNull()).count() == 3  # v1 rows


def test_crash_between_publish_and_pointer_is_invisible(spark, tmp_path):
    """Crash atomicity: if the writer dies AFTER renaming v=2 into
    place but BEFORE swinging _CURRENT, readers still resolve v1 and
    the next writer does not reuse version 2."""
    table = str(tmp_path / "t3")
    write_snapshot(spark.range(5), table)
    # simulate the torn write: v=2 exists, pointer still says 1
    spark.range(2).write.parquet(os.path.join(table, "v=2"))
    assert current_version(table) == 1
    assert read_snapshot(spark, table).count() == 5
    v = write_snapshot(spark.range(7), table)
    assert v == 3  # never clobbers the orphaned v=2
    assert read_snapshot(spark, table).count() == 7


def test_written_schema_matches_inferred_read_and_seeds_snapshot_cache(spark, tmp_path):
    """written_schema(df) is exactly the schema Spark's parquet reader
    infers for df's files, nested nullability included; the handle
    write_snapshot caches from it reads the same schema and rows as
    an inference read of that version."""
    from pyspark.sql import functions as F

    from sas_etl_spark.session import app_cache
    from sas_etl_spark.sources import written_schema

    df = spark.range(4).select(
        F.col("id").alias("big"),
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") / 3).cast("decimal(10,2)").alias("dec"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ts_ntz"),
        F.array(F.col("id").cast("double"), F.lit(0.5)).alias("arr"),
        F.create_map(F.lit("k"), F.col("id").cast("int")).alias("m"),
        F.struct(
            F.col("id").alias("a"), F.array(F.col("id")).alias("inner")
        ).alias("st"),
    )
    assert any(not f.nullable for f in df.schema.fields)  # flags differ before the write
    path = str(tmp_path / "plain")
    df.write.parquet(path)
    assert written_schema(df) == spark.read.parquet(path).schema

    table = str(tmp_path / "seeded")
    version = write_snapshot(df, table)
    seeded = read_snapshot(spark, table)
    assert app_cache(spark).pop(("snapshot", table, version)) is seeded
    inferred = read_snapshot(spark, table)
    assert inferred is not seeded
    assert seeded.schema == inferred.schema
    assert sorted(seeded.collect()) == sorted(inferred.collect())


def test_partitioned_snapshot_keeps_inference(spark, tmp_path):
    """Partition columns are typed from directory names, so a
    partitioned version is not seeded into the handle cache."""
    from sas_etl_spark.session import app_cache

    table = str(tmp_path / "parted")
    df = spark.range(6).selectExpr("id", "cast(id % 2 as string) as part")
    version = write_snapshot(df, table, partition_by=("part",))
    assert ("snapshot", table, version) not in app_cache(spark)
    assert dict(read_snapshot(spark, table).dtypes)["part"] == "int"


def test_vacuumed_version_is_not_served_from_the_handle_cache(spark, tmp_path):
    """write_snapshot caches each version's handle; once vacuumed, a
    read of that version fails at read_snapshot, not on an executor."""
    from pyspark.errors import AnalysisException

    from sas_etl_spark.sources.snapshots import vacuum_snapshots

    table = str(tmp_path / "vac")
    for k in (1, 2):
        write_snapshot(spark.range(k).toDF("v"), table)
    assert vacuum_snapshots(table, keep_last=1) == [1]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_snapshot(spark, table, version=1)
    assert read_snapshot(spark, table).count() == 2
