"""The core change-detection / delta-extraction plan.

One call = one poll tick of the reference's FtpMonitor
(fetchFromMonitoredPlaces, FtpMonitor.scala:109-122), as a declarative
DataFrame pipeline:

    listing ⟕ state (on path)           J1 state-lookup join
      → max-age filter                  F1 (before any content is touched)
      → requires-fetch filter           F2 (size/timestamp change)
      → rate limit                      L1 (oldest N paths)
      → source fetch                    only the surviving paths, each once
      → monitor tagging                 S5 (explode the matching monitors)
      → delta extraction                P1 (tail prefix-hash / update / new)
      → record projection               P4/P5 (topic routing, key/value)
    + merged new-state table            (last-write-wins per path)

Semantics are byte-exact with FtpMonitor.handleFetchedFile
(FtpMonitor.scala:70-105), including the subtle cases:
- "requires fetch" is size-or-*timestamp* change (FtpMonitor.scala:35-46)
  but "changed" after fetching is size-or-*hash* change (:72);
- a refetched-but-unchanged file emits an EMPTY body record; UNLIKE
  the reference (which only touches last_inspected, :96-99) the engine
  also commits the fresh listing timestamp — a DELIBERATE divergence
  (pinned by test_snapshot.py::test_refetched_unchanged_emits_empty_record):
  the reference re-fetches and re-emits an empty record on EVERY
  subsequent tick until the bytes change, the engine exactly once per
  metadata change;
- tail mode: grown + intact prefix (sha256 of first prev_size bytes equals
  the stored hash) emits only the suffix at offset prev_size (:76-81);
  grown + mutated prefix falls back to the whole body at offset 0 (:82-85);
  shrunk-or-equal-size-changed emits an empty body (:86-90);
- state ``offset`` stays -1 (FileMetaData.scala:12 default; the reference
  never overwrites it).

Scale: J1 joins the listing with the state table; content bytes never
shuffle (delta extraction is map-side column logic on the fetched rows).
At 100 TB of files the state table is bucketable by path so the join
co-locates. The merge of the tick's updates into the carried state is
the plan's other join.

Unlike the reference, bodies larger than 2 GiB are rejected rather than
silently truncated (the reference's ``.toInt`` overflow,
FtpMonitor.scala:77-80).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.ingest.model import STATE_SCHEMA, MonitoredPath, monitors_regex


def empty_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], STATE_SCHEMA)


def snapshot(
    listing: DataFrame,
    state: DataFrame,
    monitors: Sequence[MonitoredPath],
    *,
    fetch: Callable[[DataFrame], DataFrame] | None = None,
    max_age_seconds: float | None = None,
    now: str | None = None,
    drop_empty: bool = False,
    max_files: int | None = None,
    checkpoint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Process one poll tick. Returns ``(records, new_state)``.

    ``listing`` has one row per path (path, size, modification_time); a
    listing that also carries ``content`` (LISTING_SCHEMA) needs no
    fetch. Otherwise ``fetch`` attaches ``content`` to the rows it is
    given, keeping their other columns and dropping rows whose file
    vanished — a source's ``fetch(spark, meta)``. It only ever sees the
    paths this tick commits. ``state`` follows STATE_SCHEMA. ``now`` (ISO
    timestamp string) pins the metadata clock for deterministic tests;
    defaults to ``current_timestamp()``. ``drop_empty`` suppresses
    empty-body records (the reference emits them; its tests filter them,
    EndToEnd.scala:89-94).

    ``max_files`` is the reference's ftp.max.poll.records rate limit (L1,
    FtpSourceTask.scala:47-52): at most N files are processed per tick,
    OLDEST modification first (starvation-free; path tie-break); the
    rest keep their previous state, so the next tick picks
    them up — the same carry-over-by-not-committing semantics as the
    reference's buffer. (In streaming deployments prefer
    ``maxFilesPerTrigger`` on the source; this explicit form exists for
    batch-mode parity and bounded-memory polls.)
    """
    if not monitors:
        raise ValueError("at least one MonitoredPath is required")
    has_content = "content" in listing.columns
    if fetch is None and not has_content:
        raise ValueError("a listing without content needs a fetch")
    now_col = F.lit(now).cast("timestamp") if now else F.current_timestamp()

    listed = listing.filter(F.col("path").rlike(monitors_regex(monitors)))
    prev = state.select(
        F.col("path").alias("p_path"),
        F.col("size").alias("p_size"),
        F.col("timestamp").alias("p_timestamp"),
        F.col("hash").alias("p_hash"),
        F.col("first_fetched").alias("p_first_fetched"),
        F.col("last_modified").alias("p_last_modified"),
    )
    joined = listed.join(prev, listed["path"] == prev["p_path"], "left")

    if max_age_seconds is not None:
        joined = joined.filter(
            F.col("modification_time") >= now_col - F.make_interval(secs=F.lit(max_age_seconds))
        )
    requires_fetch = (
        F.col("p_path").isNull()
        | (F.col("p_size") != F.col("size"))
        | (F.col("p_timestamp") != F.col("modification_time"))
    )
    fetched = joined.filter(requires_fetch).drop("p_path", "p_timestamp")
    if max_files is not None:
        # the listing has one row per path, so this caps PATHS: a file
        # matched by two monitors keeps both of its records (monitors
        # are tagged below). OLDEST change first (review 9b): a pure
        # path ordering let a set of constantly-churning early-sorting
        # paths re-claim every slot each tick, starving later paths
        # forever; with mtime-ascending ordering a churning file's fresh
        # timestamp sends it to the back of the queue, so every pending
        # change eventually drains (the reference's buffer delivers
        # everything listed before re-listing — no starvation there
        # either). Path tie-break keeps the cut deterministic.
        fetched = fetched.orderBy("modification_time", "path").limit(max_files)
    if not has_content:
        fetched = fetch(fetched)

    # oversized bodies: fail loudly instead of mis-slicing (see module doc)
    content = F.when(F.col("size") <= F.lit(2**31 - 1), F.col("content")).otherwise(
        F.raise_error(F.concat(F.lit("body exceeds 2 GiB: "), F.col("path")))
    )
    known = F.col("p_hash").isNotNull()
    changed = (F.col("p_size") != F.col("size")) | (F.col("p_hash") != F.col("hash"))
    per_path = fetched.withColumn("content", content).withColumn(
        "hash", F.sha2(F.col("content"), 256)
    ).withColumns(
        {
            "first_fetched": F.coalesce(F.col("p_first_fetched"), now_col),
            "last_modified": F.when(~known | changed, now_col).otherwise(F.col("p_last_modified")),
            "last_inspected": now_col,
        }
    )

    if checkpoint:
        # Materialize the fetched per-path frame ONCE before deriving both
        # outputs: records and new_state otherwise share un-materialized
        # lineage, so a caller that actions both re-lists and re-fetches
        # every changed file (2x RETR per tick in FTP mode) — and a file
        # changing between the two scans would commit a hash the emitted
        # record never saw. Eager localCheckpoint also truncates the plan,
        # which keeps long-running poll loops' plans from growing.
        # Durability note (review 9b): localCheckpoint blocks live on
        # EXECUTORS — under dynamic allocation / spot reclamation a lost
        # executor makes the tick unrecoverable mid-poll (the poll
        # fails; at-least-once delivery re-derives next tick, so no data
        # is lost, but the tick is). Deployments that cannot retry a
        # tick should set a reliable spark checkpoint dir and swap this
        # for df.checkpoint().
        per_path = per_path.localCheckpoint(eager=True)

    # S5/U1: one row per (path, matching monitor), tagged with its topic
    # and mode — the reference processes each MonitoredPath
    # independently (FtpMonitor.scala:166-167)
    tags = F.array_compact(
        F.array(
            *(
                F.when(
                    F.col("path").rlike(m.regex),
                    F.struct(F.lit(m.topic).alias("topic"), F.lit(m.tail).alias("tail")),
                )
                for m in monitors
            )
        )
    )
    tagged = per_path.select("*", F.inline(tags))

    prefix_hash = F.sha2(F.expr("substring(content, 1, cast(p_size as int))"), 256)
    grown = F.col("size") > F.col("p_size")
    prefix_intact = F.col("p_hash") == prefix_hash
    tail_suffix = F.expr("substring(content, cast(p_size as int) + 1, cast(size - p_size as int))")
    empty = F.lit(b"")
    body = (
        F.when(~known, F.col("content"))
        .when(~changed, empty)
        .when(~F.col("tail"), F.col("content"))
        .when(grown & prefix_intact, tail_suffix)
        .when(grown, F.col("content"))
        .otherwise(empty)
    )
    body_offset = (
        F.when(known & changed & F.col("tail") & grown & prefix_intact, F.col("p_size"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    records = tagged.select(
        "topic",
        F.col("path").alias("key_name"),
        body_offset.alias("key_offset"),
        body.alias("value"),
    )
    if drop_empty:
        records = records.filter(F.length("value") > 0)

    updates = per_path.select(
        "path",
        "size",
        F.col("modification_time").alias("timestamp"),
        "hash",
        "first_fetched",
        "last_modified",
        "last_inspected",
        F.lit(-1).cast("long").alias("offset"),
    )
    # last-write-wins merge: updated rows replace prior state; untouched
    # state (unfetched or unlisted paths) carries over — the reference
    # never deletes state (ConnectFileMetaDataStore.scala:26)
    carried = state.join(updates.select("path"), "path", "left_anti")
    new_state = carried.unionByName(updates)

    return records, new_state
