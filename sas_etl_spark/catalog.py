"""Fixture catalog: parquet tables -> DataFrames / temp views.

SAS analog: ``LIBNAME`` libraries mapping directories of datasets to a
namespace (SURVEY.md §1.1). Here a scale-factor directory of parquet
files maps to named DataFrames and optionally temp views.

The ``events.ts`` column has appeared in several on-disk encodings
across fixture generations; :func:`normalize_event_ts` maps ALL of
them to one canonical type (``timestamp``, interpreted under the
pinned UTC session timezone — see sas_etl_spark.session) and raises
loudly on anything new, so a future fixture drift fails in exactly one
place instead of N queries downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sas_etl_spark.session import app_cache, configure

#: All fixture tables, per TESTDATA.md / FIXTURES.md.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Canonical dtype of events.ts after normalization.
EVENTS_TS_DTYPE = "timestamp"


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType (micros, UTC).

    Handles every encoding the fixtures have shipped with; the mapping
    is *total* — an unrecognized dtype raises immediately rather than
    letting a new encoding drift silently into downstream queries:

    - ``bigint``: epoch **nanoseconds** (the ``nanosAsLong`` reading of
      parquet ``timestamp[ns]``). Converted with exact integer
      ``DIV 1000`` — the ns epoch (~1.7e18) exceeds double's 2^53
      integer range, so float division would corrupt low-order digits;
      integer floor matches DuckDB's ns->us cast, keeping the oracle
      comparison exact.
    - ``timestamp_ntz``: parquet ``timestamp[us]`` read on a session
      without our ``inferTimestampNTZ=false`` conf (e.g. a reader that
      bypassed configure()). Cast to ``timestamp`` — wall-clock-
      preserving and exact because the session timezone is pinned to
      UTC (session.RUNTIME_CONFS), matching DuckDB's naive reading.
    - ``timestamp``: already canonical — the normal case: with
      ``parquet.inferTimestampNTZ.enabled=false`` (session.RUNTIME_CONFS)
      parquet ``timestamp[us]`` scans arrive here directly, so the
      hot path carries NO projected cast.

    Works on batch and streaming DataFrames alike (dtype inspection +
    one projected cast, no action).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise TypeError(
            f"event-time column {col!r} is missing (have: "
            f"{[c for c, _ in df.dtypes]}). The fixture encoding changed — "
            "a rename/drop must fail HERE, not as unresolved-column errors "
            "across downstream queries."
        )
    if dtype == EVENTS_TS_DTYPE:
        return df
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    raise TypeError(
        f"events.{col} arrived as {dtype!r}; expected one of "
        "timestamp/timestamp_ntz/bigint. The fixture encoding changed — "
        "extend normalize_event_ts with an exact conversion."
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types (events ts encodings).

    The handle is kept in ``app_cache``: a repeat load skips the file
    listing, footer schema resolution and the Py4J conf round-trips in
    configure. DataFrames are immutable plan handles, safe to share."""
    cache = app_cache(spark)
    key = ("table", sf_dir, name)
    cached = cache.get(key)
    if cached is not None:
        return cached
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    cache[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> dict[str, DataFrame]:
    """Load several fixture tables as a name->DataFrame dict."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] = TABLES
) -> None:
    """Register fixture tables as temp views for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """PROC SQL-style textual entry point: register every fixture
    table as a temp view, then run ``sql`` against them — the
    switch-over surface for a user whose reference workloads are SQL
    text rather than DataFrame code. Views are (re)registered
    idempotently from the cached table handles, so repeated calls
    cost no re-analysis."""
    register_views(spark, sf_dir)
    return spark.sql(sql)
