"""SparkSession construction and runtime configuration.

Two use-cases:

1. The driver hands us an already-built SparkSession (``entry(spark)`` /
   ``queries()[name](spark, sf_dir)``). We can only set *runtime* SQL
   confs on it — ``configure()`` applies exactly those.
2. Our own tests/bench build a session from scratch — ``get_spark()``
   applies the full tuned config (memory, UI, AQE) for local[N] mode.

Cache policy: per-application state lives in one place,
``app_cache(spark)``, a plain dict stored on the live SparkContext.
Each kind of entry has its own tuple key with the kind name first
(``("table", sf_dir, name)``, ``("snapshot", table_dir, version)``,
``("ivf_index", sf_dir)``, ...). It holds only plan handles and
build-once input artifacts (directories the queries read from), never
a value read from a query's inputs: a build that reads its inputs
runs that read every time, so a measurement of it includes the job.
A new SparkContext starts with an empty dict and a stopped one takes
its dict with it, so no entry is keyed by application id and nothing
needs evicting. Module-level dicts and sets are not used as memos
(``tests/test_cache_policy.py``).

Conf rationale (SURVEY.md §4.2):
- ``session.timeZone=UTC``: fixture timestamps are naive/UTC; DuckDB
  oracle is UTC-naive — pinning avoids value shifts in comparisons.
- ``legacy.parquet.nanosAsLong=true``: tolerated-encoding support —
  if a fixture ships events as parquet ``timestamp[ns]`` (which Spark
  4.x cannot read natively, PARQUET_TYPE_ILLEGAL), this reads nanos as
  long; catalog.normalize_event_ts converts exactly. Current fixtures
  ship ``timestamp[us]``.
- ``parquet.inferTimestampNTZ.enabled=false``: parquet ``timestamp[us]``
  (no UTC-adjust flag) reads directly as canonical TIMESTAMP instead of
  TIMESTAMP_NTZ. Under the pinned UTC session timezone the wall-clock
  values are identical to DuckDB's naive reading (verified both ways),
  and the scan needs NO projected cast — normalize_event_ts becomes a
  no-op on current fixtures, keeping timestamp reads on the vectorized
  fast path with zero extra Project.
- AQE on: runtime partition coalescing + skew-join splitting — the
  100 TB story relies on it, and locally it stops tiny stages from
  drowning in fixed shuffle-partition overhead.
- Arrow on: every Python<->JVM data path (toPandas, pandas UDFs) is
  batched through Arrow, never per-row pickling.
- ``codegen.cache.maxEntries=1000``: Spark keeps the Janino classes it
  compiles for whole-stage and projection code in a Guava cache of 100
  entries by default. Guava splits it into segments that each evict on
  their own share, so it drops classes before it holds 100. The 12
  etl-sf0.1 benchmark queries need 100 distinct classes (47 for the
  write-sf0.1 queries), so at the default every repeat etl pass
  recompiled 28-77 of them, and HotSpot JIT-compiled each new class
  again. At 1000 a repeat pass compiles none; ``codegen_compiles``
  counts them. The conf is static: only ``get_spark`` can set it. A
  session built elsewhere and handed to ``configure`` keeps Spark's
  100 entries.
- ``python.sql.dataFrameDebugging.enabled=false``: per-DataFrame-call
  site capture (error-context debugging) costs one extra Py4J call and
  a Python stack walk per API call, measured at 30-43% of plan-build
  latency on the heaviest builders (q_rrf_hybrid 809 -> 465 ms); error
  messages lose only the "called from <user line>" hint. The conf is
  static, so only ``get_spark`` sets it; a session built elsewhere
  keeps its own setting.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: Confs settable on a live session (spark.conf.set). Applied to the
#: driver's session before any fixture read.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def app_cache(spark: SparkSession) -> dict:
    """The per-SparkContext cache (see the module docstring)."""
    sc = spark.sparkContext
    cache = getattr(sc, "_sas_etl_cache", None)
    if cache is None:
        cache = sc._sas_etl_cache = {}
    return cache


def _ship_package(spark: SparkSession) -> None:
    """Make sas_etl_spark importable on executor Python workers.

    The driver process may run from any cwd with the repo reachable
    only via its own sys.path; executor workers inherit neither. A
    zip of the package added via addPyFile lands on every worker's
    sys.path, so UDF closures that reference package modules resolve
    (every multimodal.payload_lane decoder does). One-shot per
    SparkContext; a failure warns, because those lanes then fail on
    the executors. The zip's directory is removed at interpreter exit,
    not before: executors fetch the file from its original path.
    """
    cache = app_cache(spark)
    if ("package",) in cache:
        return
    try:
        import sas_etl_spark

        pkg_dir = os.path.dirname(os.path.abspath(sas_etl_spark.__file__))
        zip_dir = tempfile.mkdtemp(prefix="sas_etl_pkg_")
        atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
        zip_base = os.path.join(zip_dir, "sas_etl_spark_pkg")
        zip_path = shutil.make_archive(
            zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="sas_etl_spark"
        )
        spark.sparkContext.addPyFile(zip_path)
    except Exception as exc:
        warnings.warn(
            "could not ship sas_etl_spark to executor Python workers "
            f"({type(exc).__name__}: {exc}); lanes that import it there will fail",
            RuntimeWarning,
            stacklevel=2,
        )
    cache[("package",)] = True


def configure(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs needed for oracle parity to a live session.

    Idempotent and safe on a session we don't own: static confs are
    left as the session was built; any other failure raises.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException as exc:  # a static conf stays as the session was built
            if exc.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                raise
    if shuffle_partitions is None:
        # Right-size a session still on Spark's factory default (200):
        # at fixture scale that is ~200 near-empty post-shuffle tasks
        # per stage in the driver's vanilla session. A value set at
        # submit time (--conf / SparkConf) is visible in the
        # SparkContext conf and is ALWAYS preserved, even if it is
        # exactly 200. Only a session whose SQLConf still reads the
        # factory default with no submit-time setting is resized. (A
        # runtime .conf.set of exactly "200" before this call is
        # indistinguishable from the default and will be resized —
        # pass shuffle_partitions explicitly to pin it.) At cluster
        # scale the operator sizes this to bytes/128MiB (SCALE.md).
        submit_time = spark.sparkContext.getConf().get(
            "spark.sql.shuffle.partitions", None
        )
        if submit_time is None and spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(max(8, 2 * (os.cpu_count() or 4)))
            )
    else:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    _ship_package(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations this JVM has made so far (Spark's codegen
    compilation-time histogram count); a cache hit compiles nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "sas_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned local-mode session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then to the machine's count.
    Local mode is one JVM; ``spark.driver.memory`` is the only memory
    knob that matters.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Static confs (module docstring). The generated-code cache
        # holds the benchmark queries' classes (etl 100, write 47) with
        # room to spare, so a repeat pass compiles none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark, shuffle_partitions)
