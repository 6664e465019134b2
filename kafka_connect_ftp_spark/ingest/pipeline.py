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
fetched rows and counts them, the sink delivers, and the next state
version is written on a second thread while it does. A backfill runs 3
jobs, a tick with changes 5 (the state join's and the merge's broadcasts
add one each), an idle tick 2.
"""

from __future__ import annotations

import os
import re
import time as _time
from collections.abc import Iterator, Sequence
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from kafka_connect_ftp_spark.ingest.model import (
    PATHS_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    local_frame,
    meta_frame,
    monitors_regex,
    walk_roots,
    with_content,
)
from kafka_connect_ftp_spark.ingest.snapshot import TickExprs, empty_state, snapshot

# load_state's marker argument when the caller has not read the marker
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
    poll: write to a versioned subdir, then point the 'current' marker
    at it). Every source — the local tree and FTP alike — commits
    through this marker. The marker/prune bookkeeping uses driver-local
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
        bucket_state: int | None = None,
        keep_versions: int = 2,
    ) -> None:
        self.spark = spark
        self.monitors = list(monitors)
        self.source = LocalTree() if source is None else source
        # the bucketed-state path is interpolated into a CREATE TABLE
        # ... LOCATION '<dir>' clause on restart re-registration; a
        # quote would make that SQL malformed with an opaque parse
        # error, so reject it here where the message can say why
        if "'" in state_dir:
            raise ValueError(
                f"state_dir must not contain a single quote: {state_dir!r} "
                "(it is interpolated into a CREATE TABLE LOCATION clause)"
            )
        self.state_dir = state_dir
        self.max_age_seconds = max_age_seconds
        self.drop_empty = drop_empty
        self.max_files_per_poll = max_files_per_poll
        # SCD2-style audit trail: append every state version to
        # state_dir/history (valid-from = last_inspected; the current
        # version lives in the versioned snapshot as usual)
        self.keep_history = keep_history
        # bucket_state=N stores each state version as an EXTERNAL
        # bucketed table (data under state_dir, catalog entry
        # re-registerable by any session — round 9b) clustered by path:
        # the snapshot join (J1, the poll loop's only
        # shuffle) then reads the state side bucket-aligned with NO
        # Exchange — at 10^8 tracked files only the fresh listing
        # shuffles per tick, never the accumulated state (SURVEY.md §4
        # "state table is bucketable by path"). Pick N to match
        # spark.sql.shuffle.partitions so the listing shuffle lands
        # directly on the bucket layout.
        self.bucket_state = bucket_state
        # retention (both modes): superseded version dirs strictly older
        # than the last `keep_versions` are deleted after each commit, so a
        # long-running loop doesn't grow state_dir without bound. Minimum 1
        # kept behind the marker preserves crash-recovery headroom: the
        # marker flip is atomic, but a reader mid-scan of the previous
        # version must not have files deleted under it within the same
        # tick — which is exactly the version keep_versions=1 would prune
        # right after the flip, hence the clamp at 2.
        self.keep_versions = max(2, keep_versions)
        self._last_records: DataFrame | None = None
        # tracked paths in the current state version: counted once, on
        # this instance's first tick, then advanced by each commit's new
        # paths
        self._n_tracked: int | None = None
        self.last_metrics: dict | None = None
        # the tick plan's Column expressions, rebuilt only when ``now``
        # changes (see TickExprs)
        self._exprs: TickExprs | None = None
        os.makedirs(state_dir, exist_ok=True)

    # -- state table ------------------------------------------------------
    @property
    def _marker(self) -> str:
        return os.path.join(self.state_dir, "CURRENT")

    def _table_name(self, version: str) -> str:
        import hashlib

        digest = hashlib.md5(self.state_dir.encode()).hexdigest()[:10]
        return f"ftp_state_{digest}_{version}"

    def _read_marker(self) -> tuple[str, int | None] | None:
        """(version, buckets-or-None) from the CURRENT marker, or None.
        Line 2 (``buckets=N``, round 9b) records the bucket count the
        version was WRITTEN with — re-registering its files under a
        different count would silently mis-bucket the join; single-line
        markers from older state dirs read as buckets-unknown."""
        if not os.path.exists(self._marker):
            return None
        with open(self._marker) as fh:
            lines = fh.read().split("\n")
        version = lines[0].strip()
        buckets = None
        for ln in lines[1:]:
            if ln.strip().startswith("buckets="):
                buckets = int(ln.strip().removeprefix("buckets="))
        return version, buckets

    def _bucket_dir(self, version: str) -> str:
        return os.path.join(self.state_dir, f"bucket_{version}")

    def load_state(self, marker=_UNREAD) -> DataFrame:
        """The current state version; ``marker`` is the CURRENT marker
        as ``_read_marker`` returned it, if the caller has read it."""
        mk = self._read_marker() if marker is _UNREAD else marker
        if mk is None:
            return empty_state(self.spark)
        version, buckets = mk
        if self.bucket_state:
            name = self._table_name(version)
            if not self.spark.catalog.tableExists(name):
                # a NEW session's catalog is empty (in-memory by
                # default) — the data files are fine under state_dir,
                # so re-register the EXTERNAL bucketed table over them
                # (review 9b: the managed-table form stranded all state
                # on restart — TABLE_OR_VIEW_NOT_FOUND with the files
                # intact in a dead session's warehouse)
                bdir = self._bucket_dir(version)
                if not os.path.isdir(bdir):
                    # a pre-9b managed-table state dir: the files lived
                    # in the old session's warehouse — unreachable;
                    # fail loudly rather than silently starting empty
                    raise FileNotFoundError(
                        f"bucketed state {version} has no data dir {bdir} "
                        "(written by a pre-round-9b managed-table build?); "
                        "remove the CURRENT marker to start fresh"
                    )
                n = buckets or self.bucket_state
                cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in STATE_SCHEMA.fields
                )
                self.spark.sql(
                    f"CREATE TABLE {name} ({cols}) USING PARQUET "
                    f"CLUSTERED BY (path) SORTED BY (path) INTO {n} BUCKETS "
                    f"LOCATION '{bdir}'"
                )
            return self.spark.table(name)
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.state_dir, version)
        )

    def _write_version(self, new_state: DataFrame, version: str) -> None:
        """Write ``new_state`` as state version ``version`` (one job). It
        is not current until ``_flip``; a version left behind by a tick
        that failed after writing it is overwritten by the retry."""
        if self.bucket_state:
            # EXTERNAL bucketed table per version — data under
            # state_dir, catalog entry disposable (review 9b: managed
            # tables pinned the state to one session's in-memory
            # catalog; a restarted process could never load it).
            # sortBy(path) gives the sort-merge join pre-sorted bucket
            # files as well.
            (
                new_state.write.bucketBy(self.bucket_state, "path")
                .sortBy("path")
                .option("path", self._bucket_dir(version))
                .mode("overwrite")
                .saveAsTable(self._table_name(version))
            )
        else:
            new_state.write.mode("overwrite").parquet(os.path.join(self.state_dir, version))

    def _flip(self, version: str, prev_version: str | None) -> None:
        """Make ``version`` current — the commit point — then prune."""
        tmp = self._marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version)
            if self.bucket_state:
                fh.write(f"\nbuckets={self.bucket_state}")
        os.replace(tmp, self._marker)
        if self.bucket_state and prev_version is not None:
            # drop the superseded CATALOG entry only — external-table
            # DROP leaves the files, so a reader mid-scan of the
            # previous version keeps its data (the keep_versions>=2
            # invariant parquet mode enforces; review 9b: the managed
            # form deleted those files in the same tick). The file
            # dirs age out through the same retention window below.
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table_name(prev_version)}")
        self._prune_versions(current=int(version[1:]))

    def _prune_versions(self, *, current: int) -> None:
        """Delete version dirs (parquet ``vN`` or bucketed
        ``bucket_vN``) older than the retention window. The marker has
        already moved, so anything pruned is unreferenced; a crash
        mid-prune leaves stale dirs, never a missing current."""
        import shutil

        cutoff = current - self.keep_versions
        for entry in os.listdir(self.state_dir):
            m = re.fullmatch(r"(?:bucket_)?v(\d+)", entry)
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
        mk = self._read_marker()
        state = self.load_state(mk)
        if self._n_tracked is None:
            # a restart: count the state resumed from, once — a parquet
            # count() decodes no column, so it is metadata-priced at any
            # state size
            self._n_tracked = 0 if mk is None else state.count()
        exprs = self._exprs
        if exprs is None or exprs.key != (tuple(self.monitors), now, self.max_age_seconds):
            exprs = self._exprs = TickExprs(
                self.monitors, now=now, max_age_seconds=self.max_age_seconds
            )
        records, new_state, stats = snapshot(
            self.default_listing(),
            state,
            self.monitors,
            fetch=partial(self.source.fetch, self.spark),
            max_age_seconds=self.max_age_seconds,
            now=now,
            max_files=self.max_files_per_poll,
            exprs=exprs,
            # one action materializes the fetched rows feeding BOTH
            # records and new_state, and counts them: one listing+fetch
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
            prev_version = mk[0] if mk else None
            version = f"v{int(prev_version[1:]) + 1}" if prev_version else "v0"
            deliver = partial(sink, records, epoch) if sink and n_records else None
            self._write_while(new_state, version, deliver)
            self._flip(version, prev_version)
            self._n_tracked += stats.n_new_paths
            if self.keep_history:
                # the history rows come from the version just COMMITTED,
                # not from new_state's pre-commit lineage: the `carried`
                # branch of that lineage still references the previous
                # state version, which bucket_state mode has already
                # dropped by this point
                changed = local_frame(self.spark, PATHS_SCHEMA, {"path": stats.changed_paths})
                self.load_state().join(changed, "path", "left_semi").write.mode(
                    "append"
                ).parquet(os.path.join(self.state_dir, "history"))
        # else: idle tick, nothing fetched — the current version stands.
        # The previous tick's localCheckpoint blocks are reclaimed by the
        # ContextCleaner once unreferenced — keep only the latest.
        self._last_records = records
        self.last_metrics = {
            "epoch": epoch,
            "n_records": n_records,
            "n_changed": stats.n_changed,
            "bytes_emitted": stats.bytes_emitted,
            "n_tracked_paths": self._n_tracked,
            "wall_seconds": round(_time.monotonic() - t0, 3),
        }
        return records

    def _write_while(self, new_state: DataFrame, version: str, deliver) -> None:
        """Write state version ``version`` on a second thread while
        ``deliver`` (if any) runs; return once both succeeded, else
        raise. The caller flips the marker only then, so delivery still
        precedes the commit point: a failed sink leaves the marker where
        it was and the next tick re-derives and re-delivers the same
        delta (its orphan version dir is overwritten by that retry), and
        a failed write after a delivered tick re-delivers it
        (at-least-once)."""
        failed: list[BaseException] = []

        def write() -> None:
            try:
                self._write_version(new_state, version)
            except BaseException as err:  # noqa: BLE001 — re-raised below
                failed.append(err)

        writer = InheritableThread(target=write)
        writer.start()
        try:
            if deliver is not None:
                deliver()
        finally:
            writer.join()
        if failed:
            raise failed[0]

    def state_history(self) -> DataFrame:
        """All persisted state versions (keep_history=True): one row per
        (path, version) — the SCD2 audit trail. valid_from = last_modified,
        superseded when a newer last_inspected exists for the path."""
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.state_dir, "history")
        )

