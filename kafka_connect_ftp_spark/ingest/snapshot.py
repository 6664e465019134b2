"""The core change-detection / delta-extraction plan.

One call = one poll tick of the reference's FtpMonitor
(fetchFromMonitoredPlaces, FtpMonitor.scala:109-122), as a declarative
DataFrame pipeline:

    listing ⟕ state (on path)           J1 state-lookup join
      → max-age, requires-fetch filter  F1, F2 (size/timestamp change;
                                        before any content is touched)
      → rate limit                      L1 (oldest N paths)
      → source fetch                    only the surviving paths, each once
      → monitor tagging                 S5 (explode the matching monitors)
      → delta extraction                P1 (tail prefix-hash / update / new)
      → record projection               P4/P5 (topic routing, key/value)
    + the tick's state updates          (one row per fetched path; merged
                                        last-write-wins into the state)

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

Two forms run these steps. ``PollPipeline`` runs J1, F1, F2 and L1 on
the driver (``select_changed``): the listing and the state are Arrow
tables there already, so only the surviving rows, with their paths'
previous state, reach Spark. A tick with survivors runs one Spark job
(the materializing action), and one where none survives runs none. The
lazy form (``checkpoint=False``) runs the whole tick as one plan over
listing and state frames — the form for listings that already carry
content; ``tests/test_snapshot_property.py`` pins the two forms'
selections equal. Content bytes never shuffle in either: delta
extraction is map-side column logic on the fetched rows.

Unlike the reference, bodies larger than 2 GiB are rejected rather than
silently truncated (the reference's ``.toInt`` overflow,
FtpMonitor.scala:77-80).
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable, Sequence
from typing import NamedTuple
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from kafka_connect_ftp_spark.ingest.model import (
    META_SCHEMA,
    RECORD_SCHEMA,
    STATE_ARROW_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    local_frame,
    monitors_regex,
)

# The listing rows a tick fetches, each with its path's previous state
# (null for a new path): what ``select_changed`` ships to Spark.
_PREV = ("size", "hash", "first_fetched", "last_modified")
SELECTED_SCHEMA = T.StructType(
    META_SCHEMA.fields + [T.StructField(f"p_{c}", STATE_SCHEMA[c].dataType, True) for c in _PREV]
)
SELECTED_ARROW_SCHEMA = to_arrow_schema(SELECTED_SCHEMA)


def empty_state(spark: SparkSession) -> DataFrame:
    """An empty state table as a ``LocalRelation``: a backfill's state
    join and merge are pruned by the optimizer, not run."""
    return local_frame(spark, STATE_SCHEMA)


class TickStats(NamedTuple):
    """Counts of one materialized tick, summed on the driver from the
    rows of the action that materialized it."""

    n_records: int  # records, empty bodies included
    n_changed: int  # records with a non-empty body
    bytes_emitted: int  # summed body bytes
    changed_paths: list[str]  # paths with a non-empty record, sorted


class TickExprs:
    """The Column expressions of a tick's plan from the fetched rows on,
    for one ``(monitors, now)``.

    Building a Column is a JVM round trip per call, and about ten more
    for PySpark's call-site capture, so a tick that built its own spent
    most of its ~1,700 round trips here. ``PollPipeline`` builds them
    once and hands them to every tick with the same key; they reference
    no frame, so no tick's plan keeps another's alive.
    """

    def __init__(self, monitors: Sequence[MonitoredPath], *, now: str | None = None) -> None:
        if not monitors:
            raise ValueError("at least one MonitoredPath is required")
        self.key = (tuple(monitors), now)
        self.now = now_col = F.lit(now).cast("timestamp") if now else F.current_timestamp()
        path, size, p_size, p_hash = F.col("path"), F.col("size"), F.col("p_size"), F.col("p_hash")

        # oversized bodies: fail loudly instead of mis-slicing (module doc)
        content = F.when(size <= F.lit(2**31 - 1), F.col("content")).otherwise(
            F.raise_error(F.concat(F.lit("body exceeds 2 GiB: "), path))
        )
        new_hash = F.sha2(content, 256)
        known = p_hash.isNotNull()
        # one projection holds the digest twice (the hash column and this
        # test); subexpression elimination computes it once per row. The
        # hash term leads the OR so that this holds also when
        # spark.sql.subexpressionElimination.skipForShortcutExpr is set
        changed_on_fetch = (p_hash != new_hash) | (p_size != size)
        self.per_path = [
            path,
            size,
            F.col("modification_time"),
            p_size,
            p_hash,
            content.alias("content"),
            new_hash.alias("hash"),
            F.coalesce(F.col("p_first_fetched"), now_col).alias("first_fetched"),
            F.when(changed_on_fetch | ~known, now_col)
            .otherwise(F.col("p_last_modified"))
            .alias("last_modified"),
            now_col.alias("last_inspected"),
        ]

        # S5/U1: one row per (path, matching monitor), tagged with its
        # topic and mode — the reference processes each MonitoredPath
        # independently (FtpMonitor.scala:166-167)
        tags = F.array_compact(
            F.array(
                *(
                    F.when(
                        path.rlike(m.regex),
                        F.struct(F.lit(m.topic).alias("topic"), F.lit(m.tail).alias("tail")),
                    )
                    for m in monitors
                )
            )
        )
        self.tagged = [F.col("*"), F.inline(tags)]

        changed = (p_size != size) | (p_hash != F.col("hash"))
        prefix_hash = F.sha2(F.expr("substring(content, 1, cast(p_size as int))"), 256)
        grown = size > p_size
        prefix_intact = p_hash == prefix_hash
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
            F.when(known & changed & F.col("tail") & grown & prefix_intact, p_size)
            .otherwise(F.lit(0))
            .cast("long")
        )
        self.records = [
            F.col("topic"),
            path.alias("key_name"),
            body_offset.alias("key_offset"),
            body.alias("value"),
        ]
        self.nonempty = F.length("value") > 0
        self.updates = [
            path,
            size,
            F.col("modification_time").alias("timestamp"),
            F.col("hash"),
            F.col("first_fetched"),
            F.col("last_modified"),
            F.col("last_inspected"),
            F.lit(-1).cast("long").alias("offset"),
        ]
        # the materializing action's row per record: its body length and
        # its path's state update
        self.collected = [F.length(body).alias("n"), *self.updates]


def select_changed(
    listing: pa.Table,
    state: pa.Table,
    *,
    min_mtime_us: int | None = None,
    max_files: int | None = None,
) -> pa.Table:
    """J1, F1, F2 and L1 over driver-held Arrow tables: the ``listing``
    rows (META_ARROW_SCHEMA) this tick fetches, each with its path's
    previous ``state`` row (STATE_ARROW_SCHEMA) as the ``p_*`` columns
    of SELECTED_ARROW_SCHEMA. They keep the listing's order, or are
    oldest first when ``max_files`` cuts them. ``min_mtime_us`` is the
    max-age cut, in UTC epoch micros. Each listed path costs one hash
    lookup; only the survivors' state rows are copied."""
    idx = pc.index_in(listing["path"], value_set=state["path"])
    # F2: new, or size or timestamp changed (FtpMonitor.scala:35-46)
    keep = pc.or_kleene(
        pc.is_null(idx),
        pc.or_(
            pc.not_equal(listing["size"], state["size"].take(idx)),
            pc.not_equal(listing["modification_time"], state["timestamp"].take(idx)),
        ),
    )
    if min_mtime_us is not None:
        # F1: modified within the max age
        cutoff = pa.scalar(min_mtime_us, listing["modification_time"].type)
        keep = pc.and_(keep, pc.greater_equal(listing["modification_time"], cutoff))
    picked = listing.append_column("idx", idx).filter(keep)
    if max_files is not None and picked.num_rows > max_files:
        # L1 caps PATHS (the listing has one row per path): a file
        # matched by two monitors keeps both of its records. OLDEST
        # change first (review 9b): a pure path ordering let a set of
        # constantly-churning early-sorting paths re-claim every slot
        # each tick, starving later paths forever; with mtime-ascending
        # ordering a churning file's fresh timestamp sends it to the
        # back of the queue, so every pending change eventually drains
        # (the reference's buffer delivers everything listed before
        # re-listing — no starvation there either). Path tie-break keeps
        # the cut deterministic.
        order = pc.sort_indices(
            picked, sort_keys=[("modification_time", "ascending"), ("path", "ascending")]
        )
        picked = picked.take(order[:max_files])
    prev = state.take(picked["idx"]).select(list(_PREV))
    meta = picked.select(META_SCHEMA.names)
    return pa.Table.from_arrays(meta.columns + prev.columns, schema=SELECTED_ARROW_SCHEMA)


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _now_micros(spark: SparkSession, now: str | None) -> int:
    """The max-age clock in UTC epoch micros: the driver's, or ``now``
    (an ISO time) read as the lazy form's cast reads it, in the session
    time zone unless it names its own."""
    if now is None:
        return time.time_ns() // 1000
    t = dt.datetime.fromisoformat(now)
    if t.tzinfo is None:
        t = t.replace(tzinfo=ZoneInfo(spark.conf.get("spark.sql.session.timeZone")))
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def snapshot(
    listing: DataFrame | pa.Table,
    state: DataFrame | pa.Table,
    monitors: Sequence[MonitoredPath],
    *,
    spark: SparkSession | None = None,
    fetch: Callable[[DataFrame], DataFrame] | None = None,
    max_age_seconds: float | None = None,
    now: str | None = None,
    drop_empty: bool = False,
    max_files: int | None = None,
    checkpoint: bool = False,
    exprs: TickExprs | None = None,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, pa.Table, TickStats]:
    """Process one poll tick. Returns ``(records, new_state)``, or with
    ``checkpoint`` ``(records, updates, stats)``.

    ``listing`` has one row per path (path, size, modification_time); a
    listing frame that also carries ``content`` (LISTING_SCHEMA) needs no
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

    Without ``checkpoint`` the tick is one lazy plan over frames. With
    it, ``listing`` (META_ARROW_SCHEMA) and ``state`` (STATE_ARROW_SCHEMA)
    are driver-held Arrow tables, ``select_changed`` picks the rows to
    fetch (the max-age clock is the driver's unless ``now`` pins it), and
    the tick runs on ``spark`` with ONE Spark action, or none when no row
    survives: the fetched rows are kept (``localCheckpoint``) for
    ``records``, and a narrow per-record projection (body length plus
    its path's state update) is collected as Arrow. The ``TickStats``
    are counted from it, and ``updates`` is its state update per fetched
    path, a ``STATE_ARROW_SCHEMA`` table for the caller to merge (last
    write wins). ``records`` then reads the kept rows, so it neither
    re-lists nor re-fetches, and each committed hash is the one its
    record was cut with.

    ``exprs`` are the plan's prebuilt Column expressions for these
    ``monitors`` and ``now`` (``TickExprs``); a caller that runs many
    ticks passes the same ones to each, and one is built when none is
    given.
    """
    if exprs is None:
        exprs = TickExprs(monitors, now=now)
    elif exprs.key != (tuple(monitors), now):
        raise ValueError("exprs were built for other monitors or now")

    if checkpoint:
        if spark is None or fetch is None:
            raise ValueError("a checkpointed tick needs the session and a fetch")
        min_mtime_us = None
        if max_age_seconds is not None:
            # at the lazy form's microsecond precision
            min_mtime_us = _now_micros(spark, now) - round(max_age_seconds * 1_000_000)
        picked = select_changed(listing, state, min_mtime_us=min_mtime_us, max_files=max_files)
        if not picked.num_rows:
            empty = TickStats(0, 0, 0, [])
            return local_frame(spark, RECORD_SCHEMA), STATE_ARROW_SCHEMA.empty_table(), empty
        # Keep the fetched per-path rows when they are first computed
        # (the collect below) and derive the records from them: the
        # sink's action would otherwise re-fetch every changed file (2x
        # RETR per tick in FTP mode) — and a file changing between the
        # two reads would commit a hash the emitted record never saw.
        # The checkpoint also truncates the plan, which keeps long-running
        # poll loops' plans from growing. Under it are only the local
        # relation and the fetch: no exchange, so building it runs no
        # query stage. Durability note (review 9b): localCheckpoint blocks
        # live on EXECUTORS — under dynamic allocation / spot reclamation
        # a lost executor makes the tick unrecoverable mid-poll (the poll
        # fails; at-least-once delivery re-derives next tick, so no data
        # is lost, but the tick is). Deployments that cannot retry a tick
        # should set a reliable spark checkpoint dir and swap this for
        # df.checkpoint().
        fetched = fetch(local_frame(spark, SELECTED_SCHEMA, picked))
        per_path = fetched.select(*exprs.per_path).localCheckpoint(eager=False)
    else:
        # select_changed as a plan, plus the monitors' match (a listing
        # built elsewhere may hold paths no monitor matches), as one
        # filter over the state join: the optimizer pushes the
        # listing-only terms below the join
        path, mtime = F.col("path"), F.col("modification_time")
        keep = path.rlike(monitors_regex(monitors))
        if max_age_seconds is not None:
            keep = keep & (mtime >= exprs.now - F.make_interval(secs=F.lit(max_age_seconds)))
        keep = keep & (
            F.col("p_path").isNull()
            | (F.col("p_size") != F.col("size"))
            | (F.col("p_timestamp") != mtime)
        )
        prev = state.select(*(F.col(c).alias(f"p_{c}") for c in ("path", "timestamp", *_PREV)))
        fetched = (
            listing.join(prev, path == F.col("p_path"), "left")
            .filter(keep)
            .drop("p_path", "p_timestamp")
        )
        if max_files is not None:
            # oldest first, path tie-break (see select_changed)
            fetched = fetched.orderBy("modification_time", "path").limit(max_files)
        if "content" not in listing.columns:
            if fetch is None:
                raise ValueError("a listing without content needs a fetch")
            fetched = fetch(fetched)
        per_path = fetched.select(*exprs.per_path)

    tagged = per_path.select(*exprs.tagged)
    records = tagged.select(*exprs.records)
    if drop_empty:
        records = records.filter(exprs.nonempty)
    # last-write-wins merge: updated rows replace prior state; untouched
    # state (unfetched or unlisted paths) carries over — the reference
    # never deletes state (ConnectFileMetaDataStore.scala:26)
    if not checkpoint:
        updates = per_path.select(*exprs.updates)
        carried = state.join(updates.select("path"), "path", "left_anti")
        return records, carried.unionByName(updates)

    # The tick's one materializing action: a JVM-only projection over
    # the fetch, a row per record, collected as Arrow. It fills the
    # checkpoint and yields every count and state row the caller needs,
    # so no second job aggregates the records or merges the state.
    rows = tagged.select(*exprs.collected).toArrow()
    changed = rows.filter(pc.greater(rows["n"], 0))
    stats = TickStats(
        n_records=rows.num_rows,
        n_changed=changed.num_rows,
        bytes_emitted=pc.sum(changed["n"]).as_py() or 0,
        changed_paths=sorted(pc.unique(changed["path"]).to_pylist()),
    )
    # a path matched by several monitors has a record per monitor, each
    # carrying the same update: keep its first
    first = pc.index_in(pc.unique(rows["path"]), value_set=rows["path"])
    updates = rows.take(first).select(STATE_ARROW_SCHEMA.names).cast(STATE_ARROW_SCHEMA)
    return records, updates, stats
