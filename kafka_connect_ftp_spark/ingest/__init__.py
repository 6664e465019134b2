"""File-change ingestion: the reference connector's dataflow re-expressed
as declarative Spark plans.

The reference (Eneco/kafka-connect-ftp) polls FTP directories, detects
new/changed files, and emits whole bodies ("update" mode) or appended
suffixes ("tail" mode) as Kafka records, with per-file metadata persisted
in Kafka Connect's offset store (FtpMonitor.scala:109-122).

Here the same semantics are one tick (``snapshot.snapshot``): listing ⟕
state on path → change filter → fetch of the changed files → delta
extraction (binary substring + sha256 prefix check) → record projection,
plus the tick's state updates. ``PollPipeline`` runs it over a
listing/fetch source (a local directory tree walked on the driver by
default, or ``sources.ftp.FtpSource``) with parquet-backed state held on
the driver, where it also runs the join and the change filter; ``streaming/ingest_stream.py`` wraps the same
tick in Structured Streaming.
"""

from kafka_connect_ftp_spark.ingest.model import (  # noqa: F401
    LISTING_SCHEMA,
    RECORD_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
)
from kafka_connect_ftp_spark.ingest.snapshot import snapshot  # noqa: F401
from kafka_connect_ftp_spark.ingest.pipeline import PollPipeline  # noqa: F401
