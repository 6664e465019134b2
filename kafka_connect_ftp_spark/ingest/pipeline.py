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
"""

from __future__ import annotations

import os
import time as _time
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.ingest.model import (
    META_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    monitors_regex,
    walk_roots,
    with_content,
)
from kafka_connect_ftp_spark.ingest.snapshot import empty_state, snapshot


def _local_fetch(meta: DataFrame) -> DataFrame:
    """Attach content to a metadata frame by reading each file INSIDE its
    partition: bytes never pass through the driver and per-tick read
    volume is bounded by the rows given, not the corpus. Every other
    column passes through. A file that vanished between listing and
    read is skipped (the rotated-file rule).

    The rows arrive in the listing scan's partitions: dozens for a tree
    of small files, since each file counts
    ``spark.sql.files.openCostInBytes`` toward a scan split. ``coalesce``
    (no shuffle) merges them to one per core, so the Python fetch and
    everything downstream of it (sink files, state files) does not pay
    per-partition overhead for a small delta."""

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


class LocalTree:
    """The local (or driver-mounted shared-FS) directory tree as a source."""

    def listing(self, spark: SparkSession, monitors: Sequence[MonitoredPath]) -> DataFrame:
        """One metadata-only ``binaryFile`` scan over the monitors'
        disjoint base dirs: ``content`` is pruned from the scan schema,
        so files are never opened. The monitors' regex is the only
        filter. A missing monitored dir lists as empty, like FTP LIST on
        a nonexistent path (FtpFileLister.scala:37-50 None case)."""
        roots = [r for r in walk_roots(monitors) if os.path.isdir(r)]
        if not roots:
            return spark.createDataFrame([], META_SCHEMA)
        scan = spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(roots)
        # binaryFile paths are file:-URIs; state keys are plain absolute paths
        return scan.select(
            F.regexp_replace(F.col("path"), "^file:", "").alias("path"),
            F.col("length").alias("size"),
            F.col("modificationTime").alias("modification_time"),
        ).filter(F.col("path").rlike(monitors_regex(monitors)))

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
        self.last_metrics: dict | None = None
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

    def load_state(self) -> DataFrame:
        mk = self._read_marker()
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

    def _commit_state(self, new_state: DataFrame) -> DataFrame:
        """Write the next state version, flip the marker, prune; returns
        a frame READING the just-committed files (for metadata-priced
        post-commit gauges)."""
        version, prev_version = "v0", None
        mk = self._read_marker()
        if mk is not None:
            prev_version = mk[0]
            version = f"v{int(prev_version[1:]) + 1}"
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
        if self.bucket_state:
            return self.spark.table(self._table_name(version))
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.state_dir, version)
        )

    def _prune_versions(self, *, current: int) -> None:
        """Delete version dirs (parquet ``vN`` or bucketed
        ``bucket_vN``) older than the retention window. The marker has
        already moved, so anything pruned is unreferenced; a crash
        mid-prune leaves stale dirs, never a missing current."""
        import re
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
        only after records are produced; SURVEY.md §2.8 T5). Without a
        sink, the caller receives the already-materialized records and the
        state is committed; that mode is for batch/diagnostic use where
        dropping a tick on a crash between commit and consumption is
        acceptable. A tick that fetched no file commits nothing.
        """
        t0 = _time.monotonic()
        state = self.load_state()
        records, new_state = snapshot(
            self.default_listing(),
            state,
            self.monitors,
            fetch=partial(self.source.fetch, self.spark),
            max_age_seconds=self.max_age_seconds,
            now=now,
            max_files=self.max_files_per_poll,
            # single eager materialization feeding BOTH records and
            # new_state: one listing+fetch per tick, and the committed
            # hash always matches the emitted record
            checkpoint=True,
        )
        # Per-tick operational metrics (the connector logs a files-count per
        # poll, FtpMonitor.scala:111; this is the structured form). The
        # records are already materialized by snapshot(), so this never
        # re-runs the listing or the fetch. Taken before drop_empty: zero
        # rows means no file was fetched.
        agg = records.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("value")), F.lit(0)).alias("b"),
            F.coalesce(
                F.sum(F.when(F.length("value") > 0, 1).otherwise(0)), F.lit(0)
            ).alias("c"),
        ).collect()[0]
        if self.drop_empty:
            records = records.filter(F.length("value") > 0)
        # Delivery BEFORE state commit (at-least-once): if the sink throws,
        # state stays put and the next tick re-derives the same delta —
        # snapshot() is deterministic given the old state.
        if sink is not None:
            sink(records, epoch)
        if agg.n:
            state = self._commit_state(new_state)
            if self.keep_history:
                # the history rows come from the version just COMMITTED,
                # not from new_state's pre-commit lineage: the `carried`
                # branch of that lineage still references the previous
                # state version, which bucket_state mode has already
                # dropped by this point
                changed = records.filter(F.length("value") > 0).select(
                    F.col("key_name").alias("path")
                ).distinct()
                state.join(changed, "path", "left_semi").write.mode(
                    "append"
                ).parquet(os.path.join(self.state_dir, "history"))
        # else: idle tick, nothing fetched — the current version stands.
        # Tracked-paths gauge from the committed files, not a re-scan of
        # the merge plan (review 9b): a count() over parquet with no
        # columns required decodes nothing — row counts come from the
        # row-group metadata, so this is metadata-priced at any state
        # size. (An Observation on the commit write was tried and
        # reverted: registering one makes the session's
        # ObservationManager non-serializable, which poisons every later
        # closure capturing an ML model summary.)
        n_tracked = state.count()
        # The previous tick's localCheckpoint blocks are reclaimed by the
        # ContextCleaner once unreferenced — keep only the latest.
        self._last_records = records
        self.last_metrics = {
            "epoch": epoch,
            "n_records": agg.c if self.drop_empty else agg.n,
            "n_changed": agg.c,
            "bytes_emitted": agg.b,
            "n_tracked_paths": n_tracked,
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

