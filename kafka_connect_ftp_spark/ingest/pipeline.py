"""Batch poll pipeline: a listing/fetch source + parquet state.

``PollPipeline`` is the engine-side equivalent of FtpSourcePoller
(FtpSourceTask.scala:19-75): each ``poll()`` lists the monitored tree,
runs the snapshot plan against the persisted state table, emits records,
and commits the merged state. Restartability comes from the state table
exactly like Connect's offset store (SURVEY.md §3.3): a new PollPipeline
over the same ``state_dir`` resumes incrementally.

A source is two methods: ``listing(spark, monitors)`` returns metadata
only (path, size, modification_time) and ``fetch(spark, meta)`` attaches
``content`` to the rows it is given. The snapshot plan decides which
rows those are — the reference's list-then-filter-then-fetch ordering
(FtpMonitor.scala:110-119), so per-tick I/O is proportional to the
delta, not the corpus. ``LocalTree`` (below) is the default source;
``sources.ftp.FtpSource`` is the FTP one.

A tick's Spark jobs are few and fixed: the listing is walked on the
driver into a local relation (no job), one action materializes the
fetched rows and collects their counts and state updates, and the sink
delivers. The state is held on the driver as an Arrow table; each busy
tick merges its updates into it and writes the next version with
pyarrow, no Spark job. A backfill runs 2 jobs, a tick with changes 3
(the state join's broadcast adds one), an idle tick 2.
"""

from __future__ import annotations

import os
import re
import shutil
import time as _time
from collections.abc import Iterator, Sequence
from functools import partial

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from kafka_connect_ftp_spark.ingest.model import (
    STATE_ARROW_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    meta_frame,
    monitors_regex,
    walk_roots,
    with_content,
)
from kafka_connect_ftp_spark.ingest.snapshot import TickExprs, empty_state, snapshot

# load_state's version argument when the caller has not read the marker
_UNREAD = object()


def _local_fetch(meta: DataFrame) -> DataFrame:
    """Attach content to a metadata frame by reading each file INSIDE its
    partition: bytes never pass through the driver and per-tick read
    volume is bounded by the rows given, not the corpus. Every other
    column passes through. A file that vanished between listing and
    read is skipped (the rotated-file rule).

    The rows arrive in the state join's partitions: the listing's few
    when the state is broadcast, up to the shuffle's count when it is
    too large and the join sort-merges. ``coalesce`` (no shuffle) caps
    them at one per core, so the Python fetch and everything downstream
    of it (sink files, state files) does not pay per-partition overhead
    for a small delta."""

    def fetch_partition(batches):
        for pdf in batches:
            contents = []
            for p in pdf["path"]:
                try:
                    with open(p, "rb") as fh:
                        contents.append(fh.read())
                except (FileNotFoundError, IsADirectoryError, PermissionError):
                    contents.append(None)
            kept = pdf.assign(content=contents)
            yield kept[[c is not None for c in contents]]

    cores = meta.sparkSession.sparkContext.defaultParallelism
    return meta.coalesce(cores).mapInPandas(fetch_partition, with_content(meta.schema))


def _hidden(name: str) -> bool:
    """Whether Spark's file sources skip ``name`` when they list a tree
    (Hadoop's rule, ``HadoopFSUtils.shouldFilterOutPathName``): names
    starting with ``.`` or with ``_`` (unless a ``k=v`` partition name),
    and in-flight ``._COPYING_`` uploads — but never parquet's
    ``_metadata`` / ``_common_metadata`` summaries."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _walk_files(root: str) -> Iterator[tuple[str, int, int]]:
    """(path, size, modification time in epoch micros truncated to ms)
    of every file under ``root``; hidden names are neither listed nor
    descended into. An entry removed while the walk runs is skipped, as
    if it had gone before the walk."""
    stack = [root]
    while stack:
        try:
            entries = list(os.scandir(stack.pop()))
        except FileNotFoundError:
            continue
        for entry in entries:
            if _hidden(entry.name):
                continue
            try:
                if entry.is_dir():
                    stack.append(entry.path)
                else:
                    st = entry.stat()
                    yield entry.path, st.st_size, st.st_mtime_ns // 1_000_000 * 1000
            except FileNotFoundError:
                continue


class LocalTree:
    """The local (or driver-mounted shared-FS) directory tree as a source."""

    def listing(self, spark: SparkSession, monitors: Sequence[MonitoredPath]) -> DataFrame:
        """The monitors' disjoint base dirs, walked on the driver
        (``os.scandir``) into a local relation: no Spark job and no file
        opened. It lists what a ``binaryFile`` scan of the dirs with
        ``recursiveFileLookup`` lists — the same hidden-name rule, mtimes
        at ms — filtered by the monitors' regex. A missing monitored dir
        lists as empty, like FTP LIST on a nonexistent path
        (FtpFileLister.scala:37-50 None case)."""
        rx = re.compile(monitors_regex(monitors))
        return meta_frame(spark, (
            row
            for root in walk_roots(monitors)
            if os.path.isdir(root)
            for row in _walk_files(root)
            if rx.match(row[0])
        ))

    def fetch(self, spark: SparkSession, meta: DataFrame) -> DataFrame:
        return _local_fetch(meta)


class PollPipeline:
    """Stateful poll loop over a listing/fetch ``source`` (default: the
    local tree).

    State is a parquet table under ``state_dir`` (atomic replace per
    poll: write a versioned subdir, then point the ``CURRENT`` marker at
    it). Every source — the local tree and FTP alike — commits through
    this marker. The pipeline holds the committed version as an Arrow
    table on the driver, read once per instance: a busy tick merges its
    updates into it and writes the whole table as the next version with
    pyarrow. The driver therefore holds the whole state, ~125 bytes plus
    the path's length per tracked path (~180 MB at 10^6 paths of 56
    characters), and rewrites it on each busy tick. The state join still
    scans the committed version with Spark. A tick runs 2 Spark jobs on
    a backfill, 3 with changes and 2 when idle; the state costs none.

    The version writes and the marker/prune bookkeeping are driver-local
    file IO, so ``state_dir`` must be driver-local or a driver-mounted
    shared FS; it is not object-store safe (the ``_SUCCESS``-versioned
    pattern in ``hadoop_fs.py`` is, and is what the HTTP source uses).
    """

    def __init__(
        self,
        spark: SparkSession,
        monitors: Sequence[MonitoredPath],
        state_dir: str,
        *,
        source=None,
        max_age_seconds: float | None = None,
        drop_empty: bool = False,
        max_files_per_poll: int | None = None,
        keep_history: bool = False,
        keep_versions: int = 2,
    ) -> None:
        self.spark = spark
        self.monitors = list(monitors)
        self.source = LocalTree() if source is None else source
        self.state_dir = state_dir
        self.max_age_seconds = max_age_seconds
        self.drop_empty = drop_empty
        self.max_files_per_poll = max_files_per_poll
        # SCD2-style audit trail: append every state version's changed
        # rows to state_dir/history (valid-from = last_inspected; the
        # current version lives in the versioned snapshot as usual)
        self.keep_history = keep_history
        # retention: superseded version dirs strictly older than the
        # last `keep_versions` are deleted after each commit, so a
        # long-running loop doesn't grow state_dir without bound. Minimum 1
        # kept behind the marker preserves crash-recovery headroom: the
        # marker flip is atomic, but a reader mid-scan of the previous
        # version must not have files deleted under it within the same
        # tick — which is exactly the version keep_versions=1 would prune
        # right after the flip, hence the clamp at 2.
        self.keep_versions = max(2, keep_versions)
        self._last_records: DataFrame | None = None
        # the committed state version (STATE_ARROW_SCHEMA), read on this
        # instance's first tick and replaced by each commit
        self._state: pa.Table | None = None
        self.last_metrics: dict | None = None
        # the tick plan's Column expressions, rebuilt only when ``now``
        # changes (see TickExprs)
        self._exprs: TickExprs | None = None
        os.makedirs(state_dir, exist_ok=True)

    # -- state table ------------------------------------------------------
    @property
    def _marker(self) -> str:
        return os.path.join(self.state_dir, "CURRENT")

    def _read_marker(self) -> str | None:
        """The current version the CURRENT marker names, or None."""
        if not os.path.exists(self._marker):
            return None
        with open(self._marker) as fh:
            return fh.read().strip()

    def load_state(self, version=_UNREAD) -> DataFrame:
        """The current state version as a Spark scan; ``version`` is the
        CURRENT marker as ``_read_marker`` returned it, if the caller has
        read it."""
        version = self._read_marker() if version is _UNREAD else version
        if version is None:
            return empty_state(self.spark)
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.state_dir, version)
        )

    def _write_version(self, state: pa.Table, version: str) -> None:
        """Write ``state`` as state version ``version``, one parquet file.
        It is not current until ``_flip``; a version left behind by a tick
        that failed after writing it is replaced by the retry."""
        vdir = os.path.join(self.state_dir, version)
        shutil.rmtree(vdir, ignore_errors=True)
        os.makedirs(vdir)
        pq.write_table(state, os.path.join(vdir, "part-00000.parquet"))

    def _flip(self, version: str) -> None:
        """Make ``version`` current — the commit point — then prune."""
        tmp = self._marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._marker)
        self._prune_versions(current=int(version[1:]))

    def _prune_versions(self, *, current: int) -> None:
        """Delete version dirs older than the retention window. The
        marker has already moved, so anything pruned is unreferenced; a
        crash mid-prune leaves stale dirs, never a missing current."""
        cutoff = current - self.keep_versions
        for entry in os.listdir(self.state_dir):
            m = re.fullmatch(r"v(\d+)", entry)
            if m and int(m.group(1)) <= cutoff:
                shutil.rmtree(os.path.join(self.state_dir, entry), ignore_errors=True)

    def default_listing(self) -> DataFrame:
        """The source's metadata-only listing of the monitored trees."""
        return self.source.listing(self.spark, self.monitors)

    # -- the poll ---------------------------------------------------------
    def poll(self, *, now: str | None = None, sink=None, epoch: int = 0) -> DataFrame:
        """Run one tick; returns the records DataFrame (materialized).

        ``sink`` (optional ``Callable[[DataFrame, int], None]``) is invoked
        with the records BEFORE the state commit: if delivery fails, state
        is not advanced and the next poll re-emits the same delta — the
        reference's offsets-after-produce ordering (Connect commits offsets
        only after records are produced; SURVEY.md §2.8 T5). It is called
        only for a tick with records, so a replayed tick that re-derives
        nothing never reaches it. Without a sink, the caller receives the
        already-materialized records and the state is committed; that
        mode is for batch/diagnostic use where dropping a tick on a crash
        between commit and consumption is acceptable. A tick that fetched
        no file commits nothing.
        """
        t0 = _time.monotonic()
        version = self._read_marker()
        if self._state is None:
            self._state = (
                STATE_ARROW_SCHEMA.empty_table()
                if version is None
                else pq.read_table(os.path.join(self.state_dir, version), schema=STATE_ARROW_SCHEMA)
            )
        exprs = self._exprs
        if exprs is None or exprs.key != (tuple(self.monitors), now, self.max_age_seconds):
            exprs = self._exprs = TickExprs(
                self.monitors, now=now, max_age_seconds=self.max_age_seconds
            )
        records, updates, stats = snapshot(
            self.default_listing(),
            self.load_state(version),
            self.monitors,
            fetch=partial(self.source.fetch, self.spark),
            max_age_seconds=self.max_age_seconds,
            now=now,
            max_files=self.max_files_per_poll,
            exprs=exprs,
            # one action materializes the fetched rows feeding the
            # records and collects the state updates: one listing+fetch
            # per tick, and the committed hash always matches the
            # emitted record
            checkpoint=True,
        )
        # Per-tick operational metrics (the connector logs a files-count per
        # poll, FtpMonitor.scala:111; this is the structured form), counted
        # before drop_empty: zero records means no file was fetched.
        n_records = stats.n_changed if self.drop_empty else stats.n_records
        if self.drop_empty:
            records = records.filter(exprs.nonempty)
        if stats.n_records:
            next_version = f"v{int(version[1:]) + 1}" if version else "v0"
            # last write wins: the tick's updates replace their paths'
            # rows; untouched state carries over — the reference never
            # deletes state (ConnectFileMetaDataStore.scala:26)
            held = self._state
            carried = held.filter(pc.invert(pc.is_in(held["path"], value_set=updates["path"])))
            # one chunk again, else every tick would add one for the next
            # tick's filter to walk
            new_state = pa.concat_tables([carried, updates]).combine_chunks()
            # written before delivery, made current only after it: a
            # failed sink leaves an orphan version that the retry
            # overwrites, and a failed write delivers nothing
            self._write_version(new_state, next_version)
            if sink and n_records:
                sink(records, epoch)
            self._flip(next_version)
            self._state = new_state
            if self.keep_history:
                # one file per version: the version's changed rows
                hdir = os.path.join(self.state_dir, "history")
                os.makedirs(hdir, exist_ok=True)
                changed = pa.array(stats.changed_paths, pa.string())
                pq.write_table(
                    updates.filter(pc.is_in(updates["path"], value_set=changed)),
                    os.path.join(hdir, f"{next_version}.parquet"),
                )
        # else: idle tick, nothing fetched — the current version stands.
        # The previous tick's localCheckpoint blocks are reclaimed by the
        # ContextCleaner once unreferenced — keep only the latest.
        self._last_records = records
        self.last_metrics = {
            "epoch": epoch,
            "n_records": n_records,
            "n_changed": stats.n_changed,
            "bytes_emitted": stats.bytes_emitted,
            "n_tracked_paths": self._state.num_rows,
            "wall_seconds": round(_time.monotonic() - t0, 3),
        }
        return records

    def state_history(self) -> DataFrame:
        """All persisted state versions (keep_history=True): one row per
        (path, version) — the SCD2 audit trail. valid_from = last_modified,
        superseded when a newer last_inspected exists for the path."""
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.state_dir, "history")
        )
