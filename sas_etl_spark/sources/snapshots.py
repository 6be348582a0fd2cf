"""Versioned snapshot tables over plain parquet — the jar-free
fallback for the gated lakehouse adapters (lakehouse.py).

What Delta/Iceberg provide that a bare parquet directory lacks is
(a) an ATOMIC pointer from "the table" to one consistent file set and
(b) retained history (time travel). Both are reproducible with two
POSIX primitives and no jars:

- every write lands a complete new snapshot under ``v=<N>/`` (written
  to a temp dir first, then ``os.rename``d into place — readers never
  see a half-written snapshot);
- ``_CURRENT`` is a one-line pointer file replaced with
  ``os.replace`` — atomic on POSIX, so concurrent readers resolve
  either the old or the new version, never a torn state.

This is snapshot isolation for single-writer tables: each version is
immutable once published, updates are copy-on-write (the SCD2/CDC
operators in queries/cdc.py produce exactly such full next-versions),
and old versions stay readable until vacuumed. The same layout works
on object stores that offer atomic rename (HDFS, ABFS) — on S3 the
pointer write needs a conditional PUT, which is precisely the part
Delta's transaction log abstracts; swap these helpers for
lakehouse.write_table on a cluster with jars and nothing upstream
changes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from sas_etl_spark.session import app_cache
from sas_etl_spark.sources.writers import written_schema

_POINTER = "_CURRENT"


def _versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d[2:]) for d in os.listdir(table_dir) if d.startswith("v=") and d[2:].isdigit()
    )


def current_version(table_dir: str) -> int:
    """The published version the pointer names; raises if unpublished."""
    with open(os.path.join(table_dir, _POINTER)) as f:
        return int(f.read().strip())


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    partition_by: tuple[str, ...] | list[str] | None = None,
) -> int:
    """Publish ``df`` as the table's next immutable version and swing
    the pointer to it; returns the new version number.

    ``partition_by`` lays the version out Hive-partitioned
    (``col=value/`` subdirectories): readers get partition pruning on
    those columns for free, and a compaction that rewrites the table
    can rewrite per-partition. Versioning is unaffected — the
    partition tree lives INSIDE the immutable ``v=<N>/`` directory,
    so time travel and the atomic pointer see one file set either
    way.

    An unpartitioned version's read handle is cached here, built from
    the schema just written, so the next ``read_snapshot`` of it runs
    no schema-inference job. A partitioned version is left to
    ``read_snapshot``: the reader types its partition columns from the
    directory names, which the written schema cannot predict."""
    os.makedirs(table_dir, exist_ok=True)
    version = (_versions(table_dir)[-1] + 1) if _versions(table_dir) else 1
    staging = tempfile.mkdtemp(prefix=f"_staging_v{version}_", dir=table_dir)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(staging, "data"))
    final = os.path.join(table_dir, f"v={version}")
    os.rename(os.path.join(staging, "data"), final)  # atomic publish
    os.rmdir(staging)
    fd, tmp = tempfile.mkstemp(prefix="_ptr_", dir=table_dir)
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(table_dir, _POINTER))  # atomic swing
    if not partition_by:
        spark = df.sparkSession
        key = ("snapshot", os.path.abspath(table_dir), version)
        app_cache(spark)[key] = spark.read.schema(written_schema(df)).parquet(final)
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``.

    The scan handle is kept in ``app_cache`` (write_snapshot seeds it
    for unpartitioned versions): a repeat read skips file listing and
    footer schema resolution (~110 ms per read on the serve-path
    builds). A published version is immutable and its number is never
    reused, so a handle cannot go stale while its directory exists;
    the pointer is re-resolved on every call, so version swings are
    always seen. A vacuumed version's handle is never served: the read
    falls through to Spark, which fails with PATH_NOT_FOUND here
    instead of FileNotFound on an executor mid-job."""
    if version is None:
        version = current_version(table_dir)
    path = os.path.join(table_dir, f"v={version}")
    cache = app_cache(spark)
    key = ("snapshot", os.path.abspath(table_dir), version)
    cached = cache.get(key)
    if cached is not None and os.path.isdir(path):
        return cached
    df = spark.read.parquet(path)
    cache[key] = df
    return df


def vacuum_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Retention: delete all but the newest ``keep_last`` published
    versions (the pointer target is always retained, whatever it is —
    a vacuum must never break the CURRENT read). Returns the removed
    version numbers, oldest first. This is the snapshot store's
    ``VACUUM`` / ``expire_snapshots``: old versions stop being
    time-travelable, storage is reclaimed, and because every retained
    version is still a complete immutable file set, concurrent
    readers of retained versions are unaffected. Version numbers are
    never reused (the next write still takes max+1), so a vacuumed
    history cannot alias an old pin."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _versions(table_dir)
    keep = set(versions[-keep_last:])
    keep.add(current_version(table_dir))
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(table_dir, f"v={v}"))
            removed.append(v)
    return removed
