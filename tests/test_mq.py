"""MQ source/sink tests: message-schema roundtrip and the streaming
produce → consume → aggregate → publish pipeline vs its batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_message_encode_decode_roundtrip(spark):
    from pulsar_project_spark.sources.mq import (
        decode_event_messages, encode_events_as_messages,
    )
    from pulsar_project_spark.sources.tables import load_events

    ev = load_events(spark, SF_SMOKE).select(
        "event_id", "user_id", "ts_us", "event_type", "value"
    )
    back = decode_event_messages(encode_events_as_messages(ev)).select(
        "event_id", "user_id", "ts_us", "event_type", "value"
    )
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_roundtrip_pipeline_matches_batch(spark):
    from pulsar_project_spark.sources.mq import roundtrip_pipeline
    from pulsar_project_spark.sources.tables import load_events

    got = {
        r["event_type"]: (r["n"], r["max_ts_us"])
        for r in roundtrip_pipeline(spark, SF_SMOKE).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["max_ts_us"])
        for r in load_events(spark, SF_SMOKE)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("ts_us").alias("max_ts_us"))
        .collect()
    }
    assert got == want


def test_compact_topic_reduces_files_preserves_rows(spark):
    from pulsar_project_spark.sources.mq import (
        DirectoryQueue, compact_topic, encode_events_as_messages,
    )
    from pulsar_project_spark.sources.tables import load_events
    from tests.conftest import SF_SMOKE

    q = DirectoryQueue()
    ev = load_events(spark, SF_SMOKE).limit(200)
    # simulate many tiny producer appends
    for chunk in range(4):
        q.produce(encode_events_as_messages(
            ev.filter(ev.event_id % 4 == chunk)), "compact-me")
    before_files = len([f for f in __import__("os").listdir(q.topic_path("compact-me"))
                        if f.endswith(".parquet")])
    before_rows = q.read_batch(spark, "compact-me").count()
    after_files = compact_topic(spark, q, "compact-me", target_files=1)
    after = q.read_batch(spark, "compact-me")
    assert after_files < before_files
    assert after.count() == before_rows
    assert after_files == 1


def test_write_stream_drains_a_stream_into_a_topic(spark):
    from pulsar_project_spark.sources.mq import (
        DirectoryQueue, encode_events_as_messages,
    )
    from pulsar_project_spark.sources.tables import load_events

    q = DirectoryQueue()
    q.produce(encode_events_as_messages(
        load_events(spark, SF_SMOKE).limit(50)), "in")
    q.write_stream(q.read_stream(spark, "in"), "out")
    got = q.read_batch(spark, "out")
    assert got.count() == q.read_batch(spark, "in").count()
    assert {r.topic for r in got.select("topic").distinct().collect()} \
        == {"out"}
