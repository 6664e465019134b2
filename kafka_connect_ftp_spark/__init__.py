"""kafka_connect_ftp_spark — a PySpark-native analytics + file-ingestion engine.

Re-expresses the full dataflow surface of Eneco/kafka-connect-ftp (an FTP
file-change → Kafka ingestion connector, reference at /root/reference) as
idiomatic Spark:

- ``ingest``    — the core change-detection / delta-extraction pipeline
                  (reference FtpMonitor.scala) as declarative DataFrame plans.
- ``sources``   — file-listing sources: local dirs walked on the driver, an
                  ftplib adapter for real FTP remotes.
- ``operators`` — the analytics operator surface (joins, aggregations,
                  windows, dedup, similarity search, text analysis) designed
                  for 100 TB scale.
- ``functions`` — scalar helper columns (hashing, tokenization, quality).
- ``streaming`` — Structured Streaming wrappers (poll trigger, Kafka sink).
- ``plans``     — named query definitions used by __spark_entry__ and bench.
"""

__version__ = "0.1.0"

from kafka_connect_ftp_spark.session import get_spark  # noqa: F401
