"""Batch poll pipeline: a listing/fetch source + parquet state.

``PollPipeline`` is the engine-side equivalent of FtpSourcePoller
(FtpSourceTask.scala:19-75): each ``poll()`` lists the monitored tree,
runs the snapshot plan against the persisted state table, emits records,
and commits the merged state. Restartability comes from the state table
exactly like Connect's offset store (SURVEY.md §3.3): a new PollPipeline
over the same ``state_dir`` resumes incrementally.

A source is two methods: ``listing(spark, monitors)`` returns metadata
only (path, size, modification_time) of the paths the monitors match,
as a driver-built Arrow table (META_ARROW_SCHEMA), and ``fetch(spark,
meta)`` attaches ``content`` to the rows of the frame it is given. The
tick decides which rows those are — the reference's
list-then-filter-then-fetch ordering (FtpMonitor.scala:110-119), so
per-tick I/O is proportional to the delta, not the corpus. ``LocalTree``
(below) is the default source; ``sources.ftp.FtpSource`` is the FTP one.

A tick's Spark jobs are few and fixed. The listing is walked on the
driver (no job), and change detection runs there too, against the state
held as an Arrow table (``snapshot.select_changed``, no job). Only the
changed rows reach Spark: one action fetches them, keeps them for the
records and collects their counts and state updates, and the sink
delivers. Each busy tick merges its updates into the held state and
writes the next version with pyarrow, no Spark job. A backfill or a
tick with changes runs 2 jobs (the action and the sink's write); an
idle tick runs none.
"""

from __future__ import annotations

import os
import re
import shutil
import time as _time
from collections.abc import Sequence
from functools import partial

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from kafka_connect_ftp_spark.ingest.model import (
    META_ARROW_SCHEMA,
    STATE_ARROW_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    local_frame,
    monitors_regex,
    walk_roots,
    with_content,
)
from kafka_connect_ftp_spark.ingest.snapshot import TickExprs, snapshot


def _local_fetch(meta: DataFrame) -> DataFrame:
    """Attach content to a metadata frame by reading each file INSIDE its
    partition: bytes never pass through the driver and per-tick read
    volume is bounded by the rows given, not the corpus. Every other
    column passes through. A file that vanished between listing and
    read is skipped (the rotated-file rule).

    A poll tick's rows arrive as a local relation, at most one partition
    per core; the lazy tick's arrive in its state join's partitions, up
    to the shuffle's count when the join sort-merges. ``coalesce`` (no
    shuffle) caps them at one per core, so the Python fetch and
    everything downstream of it (sink files) does not pay per-partition
    overhead for a small delta."""

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


def _walk_files(roots: list[str], rx: re.Pattern) -> pa.Table:
    """The path, size and modification time (epoch micros truncated to
    ms) of every file under ``roots`` that ``rx`` matches, as columns of
    one META_ARROW_SCHEMA table; hidden names are neither listed nor
    descended into. A missing root lists as empty, and an entry removed
    while the walk runs is skipped, as if it had gone before the walk."""
    paths, sizes, mtimes = [], [], []
    stack = list(roots)
    while stack:
        try:
            entries = list(os.scandir(stack.pop()))
        except (FileNotFoundError, NotADirectoryError):
            continue
        for entry in entries:
            if _hidden(entry.name):
                continue
            try:
                if entry.is_dir():
                    stack.append(entry.path)
                elif rx.match(entry.path):
                    st = entry.stat()
                    paths.append(entry.path)
                    sizes.append(st.st_size)
                    mtimes.append(st.st_mtime_ns // 1_000_000 * 1000)
            except FileNotFoundError:
                continue
    return pa.Table.from_arrays([paths, sizes, mtimes], schema=META_ARROW_SCHEMA)


class LocalTree:
    """The local (or driver-mounted shared-FS) directory tree as a source."""

    def listing(self, spark: SparkSession, monitors: Sequence[MonitoredPath]) -> pa.Table:
        """The monitors' disjoint base dirs, walked on the driver
        (``os.scandir``) into an Arrow table: no Spark job and no file
        opened. It lists what a ``binaryFile`` scan of the dirs with
        ``recursiveFileLookup`` lists — the same hidden-name rule, mtimes
        at ms — filtered by the monitors' regex. A missing monitored dir
        lists as empty, like FTP LIST on a nonexistent path
        (FtpFileLister.scala:37-50 None case)."""
        return _walk_files(walk_roots(monitors), re.compile(monitors_regex(monitors)))

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
    characters), and rewrites it on each busy tick. Change detection
    joins the listing with the held table on the driver, so only changed
    paths reach Spark. A tick runs 2 Spark jobs on a backfill or with
    changes (the materializing action and the sink's write) and none
    when idle; the state costs none.

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
        # the committed state version (STATE_ARROW_SCHEMA) and its name
        # (None before the first commit), read by this instance's first
        # load_state and replaced by each commit
        self._state: pa.Table | None = None
        self._version: str | None = None
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

    def load_state(self) -> pa.Table:
        """The committed state version (STATE_ARROW_SCHEMA), held on the
        driver: read with pyarrow on this instance's first call, then
        the table the last commit made current."""
        if self._state is None:
            self._version = self._read_marker()
            self._state = (
                STATE_ARROW_SCHEMA.empty_table()
                if self._version is None
                else pq.read_table(
                    os.path.join(self.state_dir, self._version), schema=STATE_ARROW_SCHEMA
                )
            )
        return self._state

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
        self._version = version
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

    def default_listing(self) -> pa.Table:
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
        state = self.load_state()
        exprs = self._exprs
        if exprs is None or exprs.key != (tuple(self.monitors), now):
            exprs = self._exprs = TickExprs(self.monitors, now=now)
        records, updates, stats = snapshot(
            self.default_listing(),
            state,
            self.monitors,
            spark=self.spark,
            fetch=partial(self.source.fetch, self.spark),
            max_age_seconds=self.max_age_seconds,
            now=now,
            max_files=self.max_files_per_poll,
            exprs=exprs,
            # change detection on the driver, then one action
            # materializes the fetched rows feeding the records and
            # collects the state updates: one fetch per tick, and the
            # committed hash always matches the emitted record
            checkpoint=True,
        )
        # Per-tick operational metrics (the connector logs a files-count per
        # poll, FtpMonitor.scala:111; this is the structured form), counted
        # before drop_empty: zero records means no file was fetched.
        n_records = stats.n_changed if self.drop_empty else stats.n_records
        if self.drop_empty:
            records = records.filter(exprs.nonempty)
        if stats.n_records:
            version = self._version
            next_version = f"v{int(version[1:]) + 1}" if version else "v0"
            # last write wins: the tick's updates replace their paths'
            # rows; untouched state carries over — the reference never
            # deletes state (ConnectFileMetaDataStore.scala:26)
            carried = state.filter(pc.invert(pc.is_in(state["path"], value_set=updates["path"])))
            # one chunk again, else every tick would add one for the next
            # tick's filter to walk
            new_state = pa.concat_tables([carried, updates]).combine_chunks()
            # written before delivery, made current only after it: a
            # failed sink leaves an orphan version that the retry
            # overwrites, and a failed write delivers nothing
            self._write_version(new_state, next_version)
            if self.keep_history:
                # one file per version, written with it: the version's
                # changed rows (state_history reads committed ones only)
                hdir = os.path.join(self.state_dir, "history")
                os.makedirs(hdir, exist_ok=True)
                changed = pa.array(stats.changed_paths, pa.string())
                pq.write_table(
                    updates.filter(pc.is_in(updates["path"], value_set=changed)),
                    os.path.join(hdir, f"{next_version}.parquet"),
                )
            if sink and n_records:
                sink(records, epoch)
            self._flip(next_version)
            self._state = new_state
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
        """All committed state versions (keep_history=True): one row per
        (path, version) — the SCD2 audit trail. valid_from = last_modified,
        superseded when a newer last_inspected exists for the path. A
        version written by a tick that failed before its commit is not
        read."""
        hdir, current = os.path.join(self.state_dir, "history"), self._read_marker()
        files = [
            os.path.join(hdir, name)
            for name in (os.listdir(hdir) if current and os.path.isdir(hdir) else [])
            if int(name[1:].removesuffix(".parquet")) <= int(current[1:])
        ]
        if not files:
            return local_frame(self.spark, STATE_SCHEMA)
        return self.spark.read.schema(STATE_SCHEMA).parquet(*files)
