"""Structured Streaming analytics queries, oracle-checked.

Each query runs a real streaming pipeline over the events table —
readStream parquet source → event-time aggregation → memory sink — driven
to completion with processAllAvailable(), then returns the materialized
result. Because the batch covers the whole input, the results equal the
batch/SQL oracle, which is exactly what makes them checkable by the
driver's DuckDB compare while still exercising the streaming engine
(micro-batch planner, state store, event-time windows).

``ts`` is declared TimestampType when the parquet file stores micros; a
TIMESTAMP(NANOS) file (which Spark's reader rejects) is instead read as
LongType under legacy.parquet.nanosAsLong and converted to micros — either
way the stream sees the same instants the oracle sees.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_ftp_spark.plans import register

_mem_counter = itertools.count()

def _events_schema(ts_nanos: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_stream(spark, sf_dir):
    from kafka_connect_ftp_spark.session import _footer_schema

    ts_nanos = bool(_footer_schema(os.path.join(sf_dir, "events.parquet"))[1])
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if ts_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the table is a single parquet FILE; the file-stream source requires a
    # directory, so stream the parent dir filtered down to this one file
    raw = (
        spark.readStream.schema(_events_schema(ts_nanos))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if ts_nanos:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def _run_to_completion(agg, name_prefix: str):
    (name,) = _run_all_to_completion((agg, name_prefix))
    return name


def _run_all_to_completion(*aggs_and_prefixes):
    """Start every (aggregation, name_prefix) as its own streaming query,
    THEN drain them all — the queries are independent, so overlapping
    their micro-batch execution lets the second stream's batches
    back-fill executors the first stream's tail leaves idle (guide
    §2.6); sequential start-drain-stop per query measured ~2x the
    wall-clock of the overlapped form at sf0.1. Each query still fully
    drains (processAllAvailable) before its table is read, so results
    are identical to the sequential form."""
    started = []
    try:
        for agg, prefix in aggs_and_prefixes:
            name = f"{prefix}_{next(_mem_counter)}_{os.getpid()}"
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .start()
            )
            started.append((name, q))
        for _, q in started:
            q.processAllAvailable()
    finally:
        for _, q in started:
            q.stop()
    return [name for name, _ in started]


@register(
    "streaming_rollup_family",
    """
    SELECT section, hour, event_type, user_id, n, total_value FROM (
      SELECT 'hour_rollup' AS section, DATE_TRUNC('hour', ts) AS hour, event_type,
             CAST(NULL AS BIGINT) AS user_id,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT 'sessions', CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR), user_id,
             n_sessions, CAST(NULL AS DOUBLE)
      FROM (
        SELECT user_id, COUNT(*) AS n_sessions
        FROM (
          SELECT DISTINCT user_id, session_id
          FROM (
            SELECT user_id,
                   SUM(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS session_id
            FROM (
              SELECT user_id, ts, event_id,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               <= INTERVAL 30 MINUTE
                          THEN 0 ELSE 1 END AS is_new
              FROM events))
        ) GROUP BY user_id
      )
    ) ORDER BY section, hour, event_type, user_id
    """,
    doc=(
        "Both Structured Streaming aggregations in one tagged result "
        "(merged round 6 so each stays inside the driver's bounded "
        "correctness window; each still runs as its own real streaming "
        "query): (a) tumbling 1-hour event-time window aggregation "
        "(micro-batch + state store), equal to the batch rollup once the "
        "stream drains — the T1/T4 streaming operators of SURVEY §2.8 "
        "generalized to event-time windows the reference lacks (§2.11); "
        "(b) session_window(ts, 30 min) per user, whose oracle recomputes "
        "sessions via the lag-gap formulation — gap-merge semantics "
        "coincide because a session closes exactly when the next event is "
        "> 30 min away."
    ),
)
def streaming_rollup_family(spark, sf_dir):
    hour_agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    sess_agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # both REAL streaming queries run concurrently (they are independent;
    # see _run_all_to_completion) — each still drains fully before read
    hour_name, sess_name = _run_all_to_completion(
        (hour_agg, "hour_rollup"), (sess_agg, "sessions")
    )
    hours = spark.table(hour_name).select(
        F.lit("hour_rollup").alias("section"),
        F.col("window.start").alias("hour"),
        "event_type",
        F.lit(None).cast("long").alias("user_id"),
        "n",
        "total_value",
    )
    sessions = (
        spark.table(sess_name)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("sessions").alias("section"),
            F.lit(None).cast("timestamp").alias("hour"),
            F.lit(None).cast("string").alias("event_type"),
            "user_id",
            "n",
            F.lit(None).cast("double").alias("total_value"),
        )
    )
    return hours.unionByName(sessions).orderBy("section", "hour", "event_type", "user_id")
