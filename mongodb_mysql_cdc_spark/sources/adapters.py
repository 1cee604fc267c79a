"""Envelope-source adapters — the seam between "where change events come
from" and everything downstream (reconcile/apply/sinks), so the harness's
synthetic parquet replay is a pluggable choice rather than a hardwire
(SURVEY §1.1/§3-B).

An ``EnvelopeSource`` yields the normalized Debezium-style envelope
(``sources.cdc.ENVELOPE_SCHEMA``) two ways:

- ``snapshot()``  — a BATCH DataFrame: the consistent initial state
  (entry point A);
- ``stream()``    — a STREAMING DataFrame: the ordered change feed from
  the position the snapshot recorded on (entry point B). It carries every
  change the snapshot does not contain; it may re-deliver changes at that
  position (LWW apply makes that harmless) but never starts before it.
  Progress after that start is the stream's checkpoint concern, not the
  adapter's.

``ParquetReplaySource`` is the harness implementation (time-ordered chunk
replay over the events table). ``MongoChangeStreamSource`` documents the
real-deployment wiring and fails loudly: the MongoDB Spark connector is
not in this container, and shipping a pretend implementation would be
worse than an explicit seam. Its field mapping, change events →
envelope, is the pure transform ``change_stream_envelopes``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongodb_mysql_cdc_spark.sources.cdc import (
    AFTER_SCHEMA,
    OP_CREATE,
    OP_DELETE,
    OP_UPDATE,
    envelopes_from_events,
)


@runtime_checkable
class EnvelopeSource(Protocol):
    """Anything that can produce the normalized CDC envelope."""

    def snapshot(self) -> DataFrame: ...  # batch: initial consistent state

    def stream(self) -> DataFrame: ...  # streaming: the feed after the snapshot


@dataclass
class ParquetReplaySource:
    """Harness source: the ``events`` table replayed as a time-ordered
    file stream (one chunk per micro-batch — the oplog stand-in).

    ``snapshot()`` returns chunks ``1..snapshot_chunks`` as one batch;
    ``stream()`` is a file stream over chunks ``snapshot_chunks+1..n_chunks``
    only, so the chunk index is the snapshot's position and no event is
    read by both. ``snapshot_chunks=0`` is an empty snapshot and a stream
    over every chunk; ``snapshot_chunks == n_chunks`` is an empty stream."""

    spark: SparkSession
    source_dir: str
    n_chunks: int = 4
    snapshot_chunks: int = 1
    dir_prefix: str = "replica"
    _staged: str | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        if not 0 <= self.snapshot_chunks <= self.n_chunks:
            raise ValueError(
                f"snapshot_chunks must be in 0..n_chunks ({self.n_chunks}), "
                f"got {self.snapshot_chunks}"
            )

    def _stage(self) -> str:
        from mongodb_mysql_cdc_spark.streaming.replay import stage_event_chunks

        if self._staged is None:
            self._staged = stage_event_chunks(
                self.spark, self.source_dir, n_chunks=self.n_chunks,
                dir_prefix=self.dir_prefix,
            )
        return self._staged

    def snapshot(self) -> DataFrame:
        from mongodb_mysql_cdc_spark.streaming.replay import EVENTS_STREAM_SCHEMA

        staged = self._stage()
        parts = [
            os.path.join(staged, f"chunk={i:04d}")
            for i in range(1, self.snapshot_chunks + 1)
        ]
        # the stream's schema, given explicitly: no inference job, and no
        # paths reads as an empty snapshot instead of failing to infer
        return envelopes_from_events(
            self.spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(*parts)
        )

    def stream(self) -> DataFrame:
        from mongodb_mysql_cdc_spark.streaming.replay import read_event_stream

        after = ",".join(
            f"{i:04d}" for i in range(self.snapshot_chunks + 1, self.n_chunks + 1)
        )
        # a Hadoop brace glob over the post-snapshot chunk dirs; with none
        # left, ``chunk={}`` matches nothing and the stream is empty
        path = os.path.join(self._stage(), f"chunk={{{after}}}")
        return envelopes_from_events(read_event_stream(self.spark, path))


# One MongoDB change event as the connector delivers it, with the resume
# token ``_id`` already reduced to its position in resume-token order.
CHANGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("operationType", T.StringType()),
        T.StructField("clusterTime", T.TimestampType()),
        T.StructField(
            "ns",
            T.StructType(
                [T.StructField("db", T.StringType()), T.StructField("coll", T.StringType())]
            ),
        ),
        T.StructField("documentKey", T.StructType([T.StructField("_id", T.LongType())])),
        T.StructField("fullDocument", AFTER_SCHEMA),
    ]
)


def change_stream_envelopes(changes: DataFrame) -> DataFrame:
    """Change events (``CHANGE_STREAM_SCHEMA``) → the envelope
    (``ENVELOPE_SCHEMA``), on batch and streaming DataFrames alike:

    - ``operationType`` → op: insert → c, update and replace → u,
      delete → d. Events of any other type (drop, rename, invalidate)
      change no document and are dropped;
    - ``clusterTime`` → ts, ``_id`` → seq, ``documentKey._id`` → key;
    - ``fullDocument`` → after, NULL on deletes. An update whose document
      was deleted before the update lookup also has none; the later
      delete wins that key under LWW;
    - ``ns`` → source (db, table)."""
    op = (
        F.when(F.col("operationType") == "insert", OP_CREATE)
        .when(F.col("operationType").isin("update", "replace"), OP_UPDATE)
        .when(F.col("operationType") == "delete", OP_DELETE)
    )
    return changes.select(
        op.alias("op"),
        F.col("clusterTime").alias("ts"),
        F.col("_id").alias("seq"),
        F.col("documentKey._id").alias("key"),
        F.col("fullDocument").alias("after"),
        F.struct(F.col("ns.db").alias("db"), F.col("ns.coll").alias("table")).alias(
            "source"
        ),
    ).filter(F.col("op").isNotNull())


@dataclass
class MongoChangeStreamSource:
    """The production adapter shape: MongoDB → envelope via the official
    Spark connector. Not runnable here (connector jar + server absent);
    the docstrings carry the exact wiring so a deployment fills in two
    methods without touching anything downstream.

    snapshot(): ``spark.read.format("mongodb").option("connection.uri",
    uri).option("database", db).option("collection", coll).load()``
    projected into ENVELOPE_SCHEMA with op='r' (Debezium snapshot reads).

    Record the cluster time (the ``operationTime`` of a ``hello``
    command) before the snapshot read. stream() starts at that time,
    MongoDB's ``startAtOperationTime``:
    ``spark.readStream.format("mongodb")`` with
    ``change.stream.startup.mode=timestamp``,
    ``change.stream.startup.mode.timestamp.start.at.operation.time`` set
    to the recorded time and
    ``change.stream.publish.full.document.only=false``. Changes between
    that time and the end of the snapshot read arrive in both; the LWW
    apply makes that overlap harmless. Open the stream with
    ``change.stream.lookup.full.document=updateLookup`` so updates carry
    the whole document, then map it through ``change_stream_envelopes``.
    """

    spark: SparkSession
    uri: str
    database: str
    collection: str

    def _unavailable(self) -> RuntimeError:
        return RuntimeError(
            "MongoChangeStreamSource needs the mongo-spark-connector jar and "
            "a reachable MongoDB; this harness has neither. Use "
            "ParquetReplaySource, or deploy with "
            "--packages org.mongodb.spark:mongo-spark-connector_2.13"
        )

    def snapshot(self) -> DataFrame:
        raise self._unavailable()

    def stream(self) -> DataFrame:
        raise self._unavailable()
