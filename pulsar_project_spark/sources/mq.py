"""Message-queue source/sink for Structured Streaming (the north-star
"Pulsar source/sink" surface in BASELINE.json).

Message schema follows the public pulsar-spark connector
(pulsar-spark's reader exposes ``__key``, ``__topic``, ``__publishTime``,
``__messageId`` alongside the value; we use unprefixed names):

    key BINARY, value BINARY, topic STRING, publish_ts_us BIGINT, seq BIGINT

Backend: a **directory-backed topic log** — each topic is an
append-only parquet directory; producers append files, consumers run
file-source Structured Streaming over it. This gives real streaming
semantics — monotone offsets (files), append-only delivery, resume from
checkpoint — with zero external infrastructure. A native Pulsar broker
(``spark.readStream.format("pulsar")`` with the pulsar-spark connector
package) would swap in by changing only the reader factory; none is
wired here.

At 100 TB/day the directory backend IS the production pattern for
object-store landing zones (files arrive, file source streams them).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

MESSAGE_SCHEMA = StructType([
    StructField("key", BinaryType()),
    StructField("value", BinaryType()),
    StructField("topic", StringType()),
    StructField("publish_ts_us", LongType()),
    StructField("seq", LongType()),
])


class DirectoryQueue:
    """A Pulsar-shaped topic namespace over a base directory."""

    def __init__(self, base_dir: str | None = None):
        self.base_dir = base_dir or tempfile.mkdtemp(prefix="mq_")

    def topic_path(self, topic: str) -> str:
        p = os.path.join(self.base_dir, topic)
        os.makedirs(p, exist_ok=True)
        return p

    def produce(self, df: DataFrame, topic: str) -> None:
        """Append a batch of messages (MESSAGE_SCHEMA columns) to the
        topic log. Append-mode parquet — each produce is one or more
        new immutable files, i.e. one broker ledger entry."""
        _as_messages(df, topic).write.mode("append").parquet(
            self.topic_path(topic))

    def read_stream(self, spark: SparkSession, topic: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
        reader = spark.readStream.schema(MESSAGE_SCHEMA).format("parquet")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.load(self.topic_path(topic))

    def read_batch(self, spark: SparkSession, topic: str) -> DataFrame:
        return spark.read.schema(MESSAGE_SCHEMA).parquet(self.topic_path(topic))

    def write_stream(self, sdf: DataFrame, topic: str,
                     checkpoint: str | None = None) -> None:
        """Streaming sink into a topic: drain ``sdf`` (``availableNow``)
        as append-mode parquet with a checkpoint — exactly-once
        file-level delivery; pass ``checkpoint`` to resume across
        calls."""
        from pulsar_project_spark.streaming.pipeline import _drain

        _drain(_as_messages(sdf, topic), mode="append",
               checkpoint=checkpoint, sink=self.topic_path(topic))


def _as_messages(df: DataFrame, topic: str) -> DataFrame:
    """``df``'s MESSAGE_SCHEMA columns, cast, stamped with ``topic``."""
    return df.select(
        F.col("key").cast("binary"),
        F.col("value").cast("binary"),
        F.lit(topic).alias("topic"),
        F.col("publish_ts_us").cast("long"),
        F.col("seq").cast("long"),
    )


def compact_topic(spark: SparkSession, queue: DirectoryQueue, topic: str,
                  target_files: int = 1) -> int:
    """Small-file compaction for a topic log — the operational pass every
    file-backed landing zone needs (thousands of tiny producer files →
    a few scan-efficient ones; at 100 TB, small files are the #1 parquet
    scan killer). Rewrite-then-swap: coalesced copy to a staging dir,
    atomic directory rename. Returns the file count after compaction.

    The topic is a bounded log here; on an object store the same pass
    runs per partition-date with a manifest swap instead of a rename.

    CONCURRENCY/CRASH CONTRACT (same as ``sinks.merge_upsert``): the
    two-rename swap is not atomic — a crash between renames leaves the
    topic dir briefly absent (data recoverable at ``path + '.old'``),
    and a message produced into the topic between the read and the swap
    is lost. Compaction assumes a quiesced topic or a single
    writer+compactor owner; concurrent producers need a manifest-pointer
    layout (or compact only sealed partition-dates, never the live one)."""
    import shutil

    path = queue.topic_path(topic)
    staged = path + ".compact"
    (
        spark.read.schema(MESSAGE_SCHEMA).parquet(path)
        .coalesce(target_files)
        .write.mode("overwrite").parquet(staged)
    )
    old = path + ".old"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def encode_events_as_messages(events: DataFrame) -> DataFrame:
    """events rows → MESSAGE_SCHEMA: key = user_id bytes, value = the
    row as JSON bytes (the wire format a producer would publish)."""
    return events.select(
        F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
        F.encode(F.to_json(F.struct("event_id", "user_id", "ts_us",
                                    "event_type", "value")), "utf-8").alias("value"),
        F.lit(None).cast("string").alias("topic"),
        F.col("ts_us").alias("publish_ts_us"),
        F.col("event_id").alias("seq"),
    )


def decode_event_messages(msgs: DataFrame) -> DataFrame:
    """MESSAGE_SCHEMA → typed events (from_json over the value bytes)."""
    payload = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    return msgs.select(
        F.from_json(F.decode(F.col("value"), "utf-8"), payload).alias("e"),
        "publish_ts_us", "seq",
    ).select("e.*", "publish_ts_us", "seq")


def roundtrip_pipeline(spark: SparkSession, sf_dir: str,
                       queue: DirectoryQueue | None = None) -> DataFrame:
    """End-to-end MQ pipeline: produce events to topic 'events-in' →
    stream-consume → decode → per-type counts (complete mode) → publish
    aggregates to topic 'events-agg' → return consumed aggregate."""
    from pulsar_project_spark.sources.tables import load_events

    q = queue or DirectoryQueue()
    ev = load_events(spark, sf_dir)
    q.produce(encode_events_as_messages(ev), "events-in")

    decoded = decode_event_messages(q.read_stream(spark, "events-in"))
    agg = decoded.groupBy("event_type").agg(
        F.count("*").alias("n"), F.max("ts_us").alias("max_ts_us")
    )

    out_path = q.topic_path("events-agg")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            F.encode(F.col("event_type"), "utf-8").alias("key"),
            F.encode(F.to_json(F.struct("event_type", "n", "max_ts_us")), "utf-8").alias("value"),
            F.lit("events-agg").alias("topic"),
            F.col("max_ts_us").alias("publish_ts_us"),
            F.monotonically_increasing_id().alias("seq"),
        ).write.mode("overwrite").parquet(out_path)

    from pulsar_project_spark.streaming.pipeline import (
        _drain,
        _state_partitions,
    )

    with _state_partitions(spark):
        _drain(agg, mode="complete", sink=sink)

    out_schema = StructType([
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("max_ts_us", LongType()),
    ])
    msgs = q.read_batch(spark, "events-agg")
    return msgs.select(
        F.from_json(F.decode(F.col("value"), "utf-8"), out_schema).alias("a")
    ).select("a.*")
