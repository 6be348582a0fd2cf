"""Catalog behavior: caching, view registration, events normalization,
and error clarity."""

from __future__ import annotations

import pytest
from pyspark.sql.utils import AnalysisException

from sas_etl_spark.catalog import TABLES, load_table, register_views
from tests.conftest import SF_SMOKE


def test_table_cache_returns_same_handle(spark):
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    assert a is b  # cached plan handle, no re-analysis


def test_events_ts_is_microsecond_timestamp(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    first = ev.orderBy("event_id").first()
    assert first.ts.year == 2024


def test_register_views_covers_all_tables(spark):
    register_views(spark, SF_SMOKE)
    for t in TABLES:
        assert spark.sql(f"select count(*) from {t}").first()[0] > 0


def test_missing_table_raises_analysis_error(spark):
    with pytest.raises(AnalysisException):
        load_table(spark, SF_SMOKE, "nonexistent_table").collect()


def test_normalize_event_ts_is_total(spark):
    """Every tolerated encoding maps to canonical TIMESTAMP; anything
    else fails loudly at the catalog, not N queries downstream."""
    import datetime

    import pytest as _pytest

    from sas_etl_spark.catalog import EVENTS_TS_DTYPE, normalize_event_ts

    naive = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)
    epoch_ns = 1_709_294_400_123_456_789  # 2024-03-01T12:00:00.123456789Z

    ntz = spark.createDataFrame([(naive,)], "ts timestamp_ntz")
    assert dict(normalize_event_ts(ntz).dtypes)["ts"] == EVENTS_TS_DTYPE
    assert normalize_event_ts(ntz).first().ts == naive  # UTC session tz

    ns = spark.createDataFrame([(epoch_ns,)], "ts bigint")
    got = normalize_event_ts(ns).first().ts
    assert got == naive.replace(microsecond=123456)  # exact ns->us floor

    already = spark.createDataFrame([(naive,)], "ts timestamp")
    assert normalize_event_ts(already) is already  # no-op, same handle

    with _pytest.raises(TypeError, match="fixture encoding changed"):
        normalize_event_ts(spark.createDataFrame([("x",)], "ts string"))


#: Spark-visible dtypes per fixture table AFTER load_table normalization
#: — the contract every query builds on. A driver-side fixture
#: regeneration that changes any name or type fails HERE, in one
#: obvious place, instead of as N query/oracle mismatches downstream.
#: (all parquet timestamp[us] columns — events.ts, o_orderdate,
#: l_shipdate — arrive as canonical TIMESTAMP via the session conf
#: parquet.inferTimestampNTZ.enabled=false; under the pinned UTC
#: session timezone this is value-identical to DuckDB's naive reading
#: and needs no projected cast on the scan.)
EXPECTED_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),  # canonical straight off the scan
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_fixture_schemas_have_not_drifted(spark):
    drift = {}
    for table, expected in EXPECTED_SCHEMAS.items():
        got = load_table(spark, SF_SMOKE, table).dtypes
        if got != expected:
            drift[table] = {"expected": expected, "got": got}
    assert not drift, f"fixture schema drift (regen under the code?): {drift}"


def test_expected_schemas_cover_all_tables():
    assert set(EXPECTED_SCHEMAS) == set(TABLES)


def test_run_sql_textual_surface(spark):
    from sas_etl_spark.catalog import run_sql

    n = run_sql(
        spark, SF_SMOKE, "select count(*) as n from orders join customer "
        "on o_custkey = c_custkey"
    ).first().n
    assert n > 0


def test_app_cache_is_per_spark_context():
    """Each SparkContext carries its own cache dict, so a new context
    starts empty and a stopped one takes its entries with it; every
    session on one context gets the same dict."""
    from sas_etl_spark.session import app_cache

    class _Session:
        def __init__(self, context):
            self.sparkContext = context

    first, second = _Session(type("_Context", (), {})()), _Session(type("_Context", (), {})())
    cache = app_cache(first)
    cache[("table", SF_SMOKE, "orders")] = "handle"
    assert app_cache(first) is cache
    assert app_cache(_Session(first.sparkContext)) is cache
    assert app_cache(second) == {}
    assert app_cache(second) is not cache


def test_dead_app_scratch_roots_reclaimed(spark):
    import os
    import tempfile

    from sas_etl_spark import scratch as sc

    live = spark.sparkContext.applicationId
    dead_root = tempfile.mkdtemp(prefix="sas_etl_dead_test_")
    sc._ROOTS["app-dead-0xdead"] = dead_root
    sc._ROOTS.pop(live, None)  # force the (re)create path
    root = sc.scratch_root(spark)
    assert os.path.isdir(root)
    assert "app-dead-0xdead" not in sc._ROOTS
    assert not os.path.isdir(dead_root)  # reclaimed now, not at exit


def test_check_suite_rejects_quoted_names(spark):
    """Check names are interpolated into a stack() selectExpr; quotes
    or backticks must fail loudly at the API, not as SQL parse noise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sas_etl_spark.operators.quality_checks import check_suite

    orders = load_table(spark, SF_SMOKE, "orders")
    with _pytest.raises(ValueError, match="quotes or backticks"):
        check_suite(orders, checks=[("bad'name", F.col("o_custkey").isNull())])
    with _pytest.raises(ValueError, match="quotes or backticks"):
        check_suite(orders, checks=[("bad`name", F.col("o_custkey").isNull())])


def test_ship_package_failure_warns():
    """A failed package ship is loud: the codec lanes import their
    decoders from the shipped zip on every executor."""
    from sas_etl_spark.session import _ship_package

    class _Context:
        def addPyFile(self, path):
            raise OSError("no space left")

    class _Session:
        sparkContext = _Context()

    with pytest.warns(RuntimeWarning, match="OSError: no space left"):
        _ship_package(_Session())


def test_ship_package_zip_dir_removed_at_exit(monkeypatch):
    """The package zip's temp directory is registered for removal at
    interpreter exit (executors keep fetching it until then)."""
    import atexit
    import os

    from sas_etl_spark.session import _ship_package

    class _Context:
        shipped = []

        def addPyFile(self, path):
            self.shipped.append(path)

    class _Session:
        sparkContext = _Context()

    registered = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **kw: registered.append((fn, a, kw))
    )
    _ship_package(_Session())
    (zip_path,) = _Context.shipped
    zip_dir = os.path.dirname(zip_path)
    assert os.path.isfile(zip_path)
    ((fn, args, kwargs),) = registered
    fn(*args, **kwargs)
    assert not os.path.exists(zip_dir)


def test_configure_propagates_unexpected_conf_errors():
    """configure() leaves a static conf as the session built it, and
    raises on any other failure to set a conf."""
    from sas_etl_spark.session import RUNTIME_CONFS, app_cache, configure

    class _Conf:
        def __init__(self, fail):
            self.fail, self.values = fail, {}

        def set(self, key, value):
            if key in self.fail:
                raise self.fail[key]
            self.values[key] = value

    class _Session:
        def __init__(self, fail):
            self.conf = _Conf(fail)
            self.sparkContext = type("_Context", (), {})()
            app_cache(self)[("package",)] = True  # already shipped

    static = AnalysisException(
        message="static", errorClass="CANNOT_MODIFY_STATIC_CONFIG", messageParameters={}
    )
    first, last = list(RUNTIME_CONFS)[0], list(RUNTIME_CONFS)[-1]
    session = _Session({last: static})
    assert configure(session, shuffle_partitions=4) is session
    assert last not in session.conf.values
    assert session.conf.values["spark.sql.shuffle.partitions"] == "4"

    with pytest.raises(RuntimeError, match="conf service down"):
        configure(_Session({first: RuntimeError("conf service down")}), 4)
    other = AnalysisException(
        message="other", errorClass="CONFIG_NOT_AVAILABLE", messageParameters={}
    )
    with pytest.raises(AnalysisException):
        configure(_Session({first: other}), 4)
