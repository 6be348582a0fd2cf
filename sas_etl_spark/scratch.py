"""Session-scoped scratch directories for file-writing queries.

Sink queries (CSV/JSON/partitioned-write/split/append) materialize to
disk as part of building their result. Round 1 used a bare
``tempfile.mkdtemp`` per invocation and never cleaned up — every
verify/test run leaked a directory tree. All scratch now lives under
ONE per-application root that is removed at interpreter exit; a
long-lived process embedding us can reclaim it earlier by calling
``cleanup(spark)`` explicitly (nothing hooks session stop — Spark has
no portable Python-side stop callback).

Each call still gets a FRESH subdirectory, so query reruns within a
session stay hermetic (parquet sinks refuse to overwrite, by design).
The exception is ``artifact_dir``: a persisted index that serve
queries read is built once per application and input directory.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession

from sas_etl_spark.session import app_cache

#: applicationId -> scratch root (one per Spark app in this process).
_ROOTS: dict[str, str] = {}


def scratch_root(spark: SparkSession) -> str:
    """The per-application scratch root, created lazily."""
    app_id = spark.sparkContext.applicationId
    root = _ROOTS.get(app_id)
    if root is None or not os.path.isdir(root):
        # Reclaim dead-app scratch NOW rather than at interpreter exit
        # (their atexit hooks remain as harmless no-ops) and drop the
        # dict entries: one live SparkContext per process, so any
        # other app id is dead.
        for dead in [a for a in _ROOTS if a != app_id]:
            shutil.rmtree(_ROOTS.pop(dead), ignore_errors=True)
        root = tempfile.mkdtemp(prefix=f"sas_etl_scratch_{app_id}_")
        _ROOTS[app_id] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A fresh, empty scratch subdirectory (``<root>/<name>/<seq>``)."""
    base = os.path.join(scratch_root(spark), name)
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="run_", dir=base)


def artifact_dir(
    spark: SparkSession, name: str, sf_dir: str, marker: str, build: Callable[[str], None]
) -> str:
    """The application's build-once artifact for ``name`` over the
    inputs in ``sf_dir``: ``build(dir)`` writes it into a fresh
    scratch_dir on first use, and every later call returns that dir
    while its ``marker`` subdirectory exists (``cleanup`` or a removed
    root forces a rebuild). The dir is remembered in ``app_cache``
    under ``(name, sf_dir)``; it is an input the queries read, not a
    result."""
    cache = app_cache(spark)
    key = (name, os.path.abspath(sf_dir))
    table_dir = cache.get(key)
    if table_dir is None or not os.path.isdir(os.path.join(table_dir, marker)):
        table_dir = scratch_dir(spark, name)
        build(table_dir)
        cache[key] = table_dir
    return table_dir


def cleanup(spark: SparkSession) -> None:
    """Remove this application's scratch root immediately."""
    app_id = spark.sparkContext.applicationId
    root = _ROOTS.pop(app_id, None)
    if root:
        shutil.rmtree(root, ignore_errors=True)
