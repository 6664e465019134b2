"""Streaming ingest: the poll loop as a Structured Streaming query.

The reference's FtpSourcePoller (FtpSourceTask.scala:19-75) is a
driver-side loop: every ``ftp.refresh`` interval, poll, emit, back off on
failure. Spark's file streaming source can't re-detect *modified* files
(it tracks seen paths, not content versions — SURVEY.md §4), so the
streaming form keeps the batch snapshot plan and schedules it from a
``rate`` stream: one micro-batch tick = one poll, driven through
``foreachBatch`` with ``trigger(processingTime=refresh)``. Checkpointing
the rate source makes tick delivery restartable; the poll state itself
lives in the pipeline's versioned state table, mirroring the
Connect-offset split of clock vs data (SURVEY.md §2.8 T3/T5).

Records flow to a pluggable sink callable — ``kafka_sink`` routes on the
per-row topic column (needs the spark-sql-kafka package on the
classpath); ``parquet_sink`` is the dependency-free default.

Kafka integration-test waiver (permanent for this build environment):
the sandbox has no spark-sql-kafka/kafka-clients jar and no network to
fetch one, so ``kafka_sink`` cannot be driven end-to-end here. What IS
covered: ``to_kafka_frame`` (tests/test_converters.py) pins the exact
frame contract the Kafka writer consumes — per-row ``topic``, binary
``key``/``value``, both key styles — and ``kafka_sink`` adds only the
three ``.write.format("kafka")`` lines below on top of it. On a cluster
with the jar present, ``examples/migrate_from_connector.py`` plus a
bootstrap-servers option is the intended smoke path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.ingest.pipeline import PollPipeline
from kafka_connect_ftp_spark.streaming.backoff import ExponentialBackOff

Sink = Callable[[DataFrame, int], None]


def parquet_sink(out_dir: str) -> Sink:
    def write(records: DataFrame, epoch: int) -> None:
        records.write.mode("append").parquet(out_dir)

    return write


def idempotent_parquet_sink(out_dir: str) -> Sink:
    """Exactly-once-per-epoch file sink: each epoch's records land in
    their own ``epoch=N`` partition of ``out_dir``, written with dynamic
    partition overwrite, so a replayed tick after a crash rewrites the
    same partition instead of duplicating records — the foreachBatch
    idempotence pattern that upgrades at-least-once delivery (reference
    T5, SURVEY.md §2.8) to effectively-once for file targets. Readers
    load ``out_dir`` with partition discovery and see each epoch once.

    A dynamic overwrite replaces only the partitions the write fills, so
    an EMPTY frame leaves ``epoch=N`` as it was: a replay that re-derives
    an empty delta (the crash hit after the state commit, before the
    engine committed the micro-batch) keeps the rows the original
    attempt delivered, with no job spent probing for emptiness.
    ``PollPipeline.poll`` calls a sink only for a tick with records."""

    def write(records: DataFrame, epoch: int) -> None:
        (
            records.withColumn("epoch", F.lit(epoch))
            .write.partitionBy("epoch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    return write


def kafka_sink(bootstrap_servers: str, key_style: str = "string_key") -> Sink:
    """Per-row topic routing — Spark's Kafka sink honors a ``topic`` column
    (the engine-side monitor2topic, FtpSourceTask.scala:60-63). Requires
    the org.apache.spark:spark-sql-kafka-0-10 package at submit time."""

    def write(records: DataFrame, epoch: int) -> None:
        from kafka_connect_ftp_spark.ingest.converters import to_kafka_frame

        (
            to_kafka_frame(records, key_style)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .save()
        )

    return write


class StreamingIngest:
    """Wraps a PollPipeline in a streaming query.

    ``refresh_seconds`` maps to ftp.refresh; ``backoff`` (optional) maps to
    ftp.max.backoff: a failing tick is swallowed, the next ticks are
    skipped until the backoff window passes, and the window doubles per
    consecutive failure (ExponentialBackOff.scala semantics, T2).
    """

    def __init__(
        self,
        pipeline: PollPipeline,
        sink: Sink,
        *,
        refresh_seconds: float = 1.0,
        backoff: ExponentialBackOff | None = None,
    ) -> None:
        self.pipeline = pipeline
        self.sink = sink
        self.refresh_seconds = refresh_seconds
        self.backoff = backoff
        # bounded: an always-on query against a down server must not
        # accumulate exception objects (and their frame-pinned locals)
        # without limit
        from collections import deque

        self.errors: deque = deque(maxlen=100)

    def _tick(self, batch_df: DataFrame, epoch: int) -> None:
        if self.backoff and not self.backoff.passed():
            return
        try:
            # poll() invokes the sink BEFORE committing state: a crash
            # mid-tick leaves state un-advanced, so the delta is re-emitted
            # on the next tick (at-least-once; pair with an idempotent sink
            # for effectively-once). Mirrors Connect's offsets-after-produce.
            self.pipeline.poll(sink=self.sink, epoch=epoch)
            if self.backoff:
                # reset, not next_success(): the trigger already paces
                # healthy ticks at refresh_seconds, and next_success()'s
                # step-sized wait window measured from poll END would gate
                # off every other trigger firing (interval silently 2x).
                # The success window belongs to the CLI loop, where
                # backoff IS the pacing mechanism (reference parity).
                self.backoff.reset()
        except Exception as err:  # noqa: BLE001 — poll failures must not kill the query
            self.errors.append(err)
            if self.backoff:
                self.backoff.next_failure()

    def start(self, checkpoint_dir: str):
        """Start the query; returns the StreamingQuery handle."""
        clock = (
            self.pipeline.spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
        )
        return (
            clock.writeStream.foreachBatch(self._tick)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{self.refresh_seconds} seconds")
            .start()
        )
