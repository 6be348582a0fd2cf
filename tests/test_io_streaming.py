"""Tests for sources/sinks, streaming equivalence, and multimodal
plumbing (SURVEY.md §2.1, §2.10, §2.9 #56)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from sas_etl_spark.catalog import load_table
from sas_etl_spark.operators.events import session_counts
from sas_etl_spark.operators.multimodal import attach_fake_payload, extract_features
from sas_etl_spark.queries.events_stream import q_tumbling_counts
from sas_etl_spark.sources import multi_output_split, read_csv, write_csv
from sas_etl_spark.streaming import (
    run_bounded_to_memory,
    session_window_agg,
    stream_events,
    tumbling_agg,
)
from tests.conftest import SF_SMOKE


def test_csv_roundtrip_preserves_rows(spark):
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="csv_rt_")
    write_csv(orders, path)
    back = read_csv(
        spark, path, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    )
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    src_sum = orders.agg(F.sum("o_totalprice")).first()[0]
    rt_sum = back.agg(F.sum("o_totalprice")).first()[0]
    assert abs(src_sum - rt_sum) < 1e-6 * abs(src_sum)


def test_multi_output_split_counts_and_overlap(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    base = tempfile.mkdtemp(prefix="split_")
    split = multi_output_split(
        orders,
        {
            "open": F.col("o_orderstatus") == "O",
            "rest": F.col("o_orderstatus") != "O",
            "all": F.lit(True),  # overlapping output, like SAS OUTPUT a; OUTPUT b;
            "none": F.lit(False),  # an output no row reaches
        },
        base,
    )
    counts = {r.sink: r.n for r in split.groupBy("sink").agg(F.count("*").alias("n")).collect()}
    counts = {name: counts.get(name, 0) for name in ("open", "rest", "all", "none")}
    assert counts["open"] + counts["rest"] == counts["all"] == orders.count()
    assert counts["none"] == 0
    assert spark.read.parquet(f"{base}/sink=open").count() == counts["open"]
    assert split.columns == orders.columns + ["sink"]

    # A row matching no predicate is written to no output.
    base2 = tempfile.mkdtemp(prefix="split_")
    only_open = multi_output_split(
        orders, {"open": F.col("o_orderstatus") == "O"}, base2
    )
    missed = orders.filter(F.col("o_orderstatus") != "O").select("o_orderkey")
    assert missed.count() > 0
    assert only_open.join(missed, "o_orderkey").count() == 0
    assert only_open.count() == counts["open"]

    with pytest.raises(ValueError, match="sink"):
        multi_output_split(orders.withColumn("SINK", F.lit(1)), {"a": F.lit(True)}, base2)


def test_stream_tumbling_equals_batch(spark):
    """Streaming (file source -> window agg -> memory sink) must equal
    the batch DataFrame answer on the bounded fixture."""
    stream_result = run_bounded_to_memory(
        tumbling_agg(stream_events(spark, SF_SMOKE)), spark
    )
    batch_result = q_tumbling_counts(spark, SF_SMOKE).withColumnRenamed(
        "bucket", "bucket"
    )
    s = {tuple(r) for r in stream_result.collect()}
    b = {tuple(r) for r in batch_result.collect()}
    assert s == b


def test_session_window_matches_lag_gap_session_count(spark):
    """F.session_window (streaming twin) and the batch lag-gap
    operator must agree on sessions per user."""
    events = load_table(spark, SF_SMOKE, "events")
    sw = (
        session_window_agg(events, gap="30 minutes")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("sessions"))
    )
    lag_gap = session_counts(events, gap_seconds=30 * 60)
    s = {(r.user_id, r.sessions) for r in sw.collect()}
    b = {(r.user_id, r.sessions) for r in lag_gap.collect()}
    assert s == b


def test_multimodal_feature_plumbing(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    feats = extract_features(attach_fake_payload(docs, key_col="doc_id"))
    assert [f.name for f in feats.schema.fields] == ["doc_id", "lang", "media", "features"]
    assert feats.schema["features"].dataType.simpleString() == "array<double>"
    rows = feats.select("doc_id", "features").orderBy("doc_id").limit(5).collect()
    assert all(len(r.features) == 8 for r in rows)
    again = (
        extract_features(attach_fake_payload(docs, key_col="doc_id"))
        .select("doc_id", "features")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    assert rows == again  # deterministic fake decode
    assert feats.count() == docs.count()


def test_ppm_decode_roundtrip():
    """decode_ppm must invert ppm_bytes exactly — real header parsing
    and pixel-plane reshape, no Spark involved."""
    import numpy as np

    from sas_etl_spark.operators.multimodal import decode_ppm, ppm_bytes

    for w, h, i in [(8, 6, 0), (24, 14, 7), (12, 10, 63)]:
        arr = decode_ppm(ppm_bytes(w, h, i))
        assert arr.shape == (h, w, 3)
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        expect = ((i * 7 + c * 13 + x + y) % 256).astype(np.uint8)
        assert (arr == expect).all()
    # comment-tolerant header
    with_comment = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    assert decode_ppm(with_comment).shape == (1, 2, 3)


def test_image_stats_distributed_decode(spark, tmp_path):
    """binaryFile -> mapInPandas decode: per-image dims + means match
    a driver-side numpy recomputation."""
    import numpy as np

    from sas_etl_spark.operators.multimodal import (
        decode_ppm,
        image_stats,
        ppm_bytes,
        write_ppm_fixture,
    )

    out = str(tmp_path / "ppm")
    write_ppm_fixture(out, n_images=12)
    raw = spark.read.format("binaryFile").load(out)
    got = {
        r.img_id: (r.width, r.height, r.mean_r, r.mean_g, r.mean_b)
        for r in image_stats(raw.select("path", "content")).collect()
    }
    assert len(got) == 12
    for i in range(12):
        w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
        arr = decode_ppm(ppm_bytes(w, h, i)).astype(np.float64)
        means = arr.mean(axis=(0, 1))
        assert got[i][0] == w and got[i][1] == h
        assert got[i][2:] == (means[0], means[1], means[2])


def test_exactly_once_sink_retry_is_idempotent(spark, tmp_path):
    """A retried epoch must REPLACE its own partition, not append: we
    re-run the final epoch's write (same rows, same epoch id — exactly
    what Structured Streaming does after a sink failure) and the sink
    must be byte-for-byte the same size."""
    from pyspark.sql import functions as F

    from sas_etl_spark.catalog import load_table
    from sas_etl_spark.streaming import (
        run_bounded_to_parquet_sink,
        stream_events,
        tumbling_agg,
    )

    path = str(tmp_path / "sink")
    agg = tumbling_agg(stream_events(spark, SF_SMOKE))
    last = run_bounded_to_parquet_sink(agg, path)
    first_rows = sorted(spark.read.parquet(path).collect())

    retry = tumbling_agg(load_table(spark, SF_SMOKE, "events"))  # same rows
    (
        retry.withColumn("_epoch", F.lit(last))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(path)
    )
    assert sorted(spark.read.parquet(path).collect()) == first_rows


def test_cdc_upsert_batch_replay_is_idempotent(spark, tmp_path):
    """q_stream_cdc_upsert's foreachBatch contract: re-applying the
    SAME batch (the at-least-once replay case) publishes a new version
    whose content is value-identical to the previous one — max-merge
    absorbs replays."""
    from sas_etl_spark.queries.io_stream import cdc_upsert_batch
    from sas_etl_spark.sources.snapshots import current_version, read_snapshot

    table = str(tmp_path / "cdc_state")
    batch = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100, 5.0),
            (1, "2024-01-01 11:00:00", 101, 7.0),
            (2, "2024-01-01 09:00:00", 102, 3.0),
        ],
        "user_id long, ts string, event_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cdc_upsert_batch(spark, table, batch)
    v1 = current_version(table)
    first = sorted(map(tuple, read_snapshot(spark, table).collect()))
    cdc_upsert_batch(spark, table, batch)  # replay
    v2 = current_version(table)
    replayed = sorted(map(tuple, read_snapshot(spark, table).collect()))
    assert v2 == v1 + 1  # a new immutable version was published...
    assert replayed == first  # ...with value-identical state
    # and the latest-per-user reduce picked the right rows
    state = {r[0]: r for r in replayed}
    assert state[1][2] == 101 and state[1][3] == 7.0
    assert state[2][2] == 102
