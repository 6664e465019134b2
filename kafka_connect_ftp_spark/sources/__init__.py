"""Listing/fetch sources for the ingest engine.

A source has two methods: ``listing(spark, monitors)`` (metadata only,
a driver-built Arrow table) and ``fetch(spark, meta)`` (attach content). ``LocalTree`` (in
ingest/pipeline.py) walks a local tree on the driver; ``FtpSource`` adapts
a live FTP remote via ftplib, so the snapshot plan is source-agnostic.
"""

from kafka_connect_ftp_spark.sources.ftp import FtpSource  # noqa: F401
