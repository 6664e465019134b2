"""FTP source tests against an in-memory fake ftplib client — the unit
analog of FtpFileListerTest.scala: glob traversal over a directory tree,
plus the distributed fetch path and the full snapshot round trip."""

from __future__ import annotations

import datetime as dt
import os
import re

import pyarrow as pa
import pytest
from pyspark.sql.types import TimestampType

from kafka_connect_ftp_spark.ingest.model import META_SCHEMA, MonitoredPath, local_frame
from kafka_connect_ftp_spark.ingest.pipeline import PollPipeline
from kafka_connect_ftp_spark.ingest.snapshot import empty_state, snapshot
from kafka_connect_ftp_spark.sources.ftp import FtpSource


class FakeFtp:
    """Minimal ftplib.FTP stand-in: a dict tree of path -> bytes."""

    def __init__(
        self,
        files: dict[str, bytes],
        mtime: str = "20240601120000",
        mtimes: dict[str, str] | None = None,
    ):
        self.files = files
        self.mtime = mtime
        self.mtimes = mtimes or {}
        self.dirs = set()
        for p in files:
            parts = p.strip("/").split("/")
            for i in range(len(parts)):
                self.dirs.add("/" + "/".join(parts[:i]))

    def mlsd(self, path, facts=()):
        path = path.rstrip("/") or "/"
        if path not in self.dirs:
            import ftplib

            raise ftplib.error_perm("550 no such dir")
        out = []
        seen = set()
        for p, body in self.files.items():
            parent, _, name = p.rpartition("/")
            if (parent or "/") == path:
                out.append(
                    (name, {"type": "file", "size": str(len(body)),
                            "modify": self.mtimes.get(p, self.mtime)})
                )
        for d in self.dirs:
            parent, _, name = d.rpartition("/")
            if (parent or "/") == path and name and name not in seen:
                seen.add(name)
                out.append((name, {"type": "dir"}))
        return out

    def retrbinary(self, cmd, callback):
        path = cmd.split(" ", 1)[1]
        if path not in self.files:  # match real servers: 550 on missing file
            import ftplib

            raise ftplib.error_perm("550 no such file")
        callback(self.files[path])

    def quit(self):
        pass


TREE = {
    "/a/dira/path/file1.txt": b"one",
    "/a/dirb/nopath/file2.txt": b"two",
    "/a/dirb/path/file3.txt": b"three",
    "/a/dirb/path/file4.csv": b"four",
}


def listing_frame(spark, source, monitors):
    """The source's driver-built listing as a frame."""
    return local_frame(spark, META_SCHEMA, source.listing(spark, monitors))


def listed(spark, source, pattern):
    """``source.listing`` for one monitor of glob ``pattern``, as
    ``(path, size, mtime)`` tuples with each mtime a naive datetime."""
    table = source.listing(spark, [MonitoredPath(pattern, topic="t")])
    to_datetime = TimestampType().fromInternal
    micros = table["modification_time"].cast(pa.int64()).to_pylist()
    return [
        (p, s, to_datetime(m))
        for p, s, m in zip(table["path"].to_pylist(), table["size"].to_pylist(), micros)
    ]


@pytest.fixture
def src():
    files = dict(TREE)
    return FtpSource(host="fake", _client_factory=lambda: FakeFtp(files)), files


def test_glob_traversal_matches_reference_fixture(spark, src):
    source, _ = src
    got = sorted(p for p, _, _ in listed(spark, source, "/a/dir?/path/*.txt"))
    assert got == ["/a/dira/path/file1.txt", "/a/dirb/path/file3.txt"]


def test_fixed_path_listing(spark, src):
    source, _ = src
    got = [(p, s) for p, s, _ in listed(spark, source, "/a/dirb/path/file4.csv")]
    assert got == [("/a/dirb/path/file4.csv", 4)]


def test_listing_dataframe_and_distributed_fetch(spark, src):
    source, _ = src
    monitors = [MonitoredPath("/a/dirb/path/", topic="t")]
    meta = listing_frame(spark, source, monitors)
    assert {r.path for r in meta.collect()} == {
        "/a/dirb/path/file3.txt",
        "/a/dirb/path/file4.csv",
    }
    fetched = source.fetch(spark, meta)
    got = {r.path: bytes(r.value if hasattr(r, "value") else r.content) for r in fetched.collect()}
    assert got == {
        "/a/dirb/path/file3.txt": b"three",
        "/a/dirb/path/file4.csv": b"four",
    }


def test_ftp_listing_through_snapshot_plan(spark, src):
    source, files = src
    monitors = [MonitoredPath("/a/dirb/path/", topic="files")]
    listing = source.fetch(spark, listing_frame(spark, source, monitors))
    records, state = snapshot(
        listing, empty_state(spark), monitors, now="2024-06-01 12:00:00"
    )
    got = {(r.key_name, bytes(r.value)) for r in records.collect()}
    assert got == {
        ("/a/dirb/path/file3.txt", b"three"),
        ("/a/dirb/path/file4.csv", b"four"),
    }
    # mutate the remote; second tick sees only the change
    files["/a/dirb/path/file3.txt"] = b"three+more"
    source2 = FtpSource(host="fake", _client_factory=lambda: FakeFtp(files, mtime="20240601120100"))
    listing2 = source2.fetch(spark, listing_frame(spark, source2, monitors))
    state = spark.createDataFrame(state.collect(), state.schema)
    records2, _ = snapshot(
        listing2, state, monitors, now="2024-06-01 12:01:00", drop_empty=True
    )
    got2 = {(r.key_name, bytes(r.value)) for r in records2.collect()}
    assert got2 == {("/a/dirb/path/file3.txt", b"three+more")}


def test_timestamp_parsing(spark):
    src = FtpSource(host="fake", _client_factory=lambda: FakeFtp({"/x/f": b"z"}, mtime="20231231235959"))
    [(_, _, mtime)] = listed(spark, src, "/x/*")
    assert mtime == dt.datetime(2023, 12, 31, 23, 59, 59)


class ListOnlyFtp(FakeFtp):
    """A server that never learned MLSD (502) but speaks classic LIST —
    the commons-net-compatible servers the reference supports via
    FTPClient.initiateListParsing (FtpFileLister.scala:36-49)."""

    def mlsd(self, path, facts=()):
        import ftplib

        raise ftplib.error_perm("502 MLSD not implemented")

    def dir(self, path, callback):
        import ftplib

        path = path.rstrip("/") or "/"
        if path not in self.dirs:
            raise ftplib.error_perm("550 no such dir")
        for name, facts in FakeFtp.mlsd(self, path):
            if facts["type"] == "dir":
                callback(f"drwxr-xr-x   2 ftp ftp        4096 Jun 01  2024 {name}")
            else:
                callback(
                    f"-rw-r--r--   1 ftp ftp  {facts['size']:>10} Jun 01  2024 {name}"
                )


def test_list_fallback_traverses_same_tree(spark, src):
    files = dict(TREE)
    source = FtpSource(host="fake", _client_factory=lambda: ListOnlyFtp(files))
    got = sorted(p for p, _, _ in listed(spark, source, "/a/dir?/path/*.txt"))
    assert got == ["/a/dira/path/file1.txt", "/a/dirb/path/file3.txt"]
    # sizes survive the LIST parse
    sizes = {p: s for p, s, _ in listed(spark, source, "/a/dirb/path/*")}
    assert sizes == {"/a/dirb/path/file3.txt": 5, "/a/dirb/path/file4.csv": 4}


def test_root_listing_failure_raises(spark):
    import ftplib

    source = FtpSource(host="fake", _client_factory=lambda: FakeFtp(dict(TREE)))
    with pytest.raises(ftplib.error_perm):
        listed(spark, source, "/nonexistent/dir/*")


def test_parse_list_line_unrepresentable_date_skipped():
    # "Feb 29 12:00" (leap-year mtime) parsed when the current year is
    # non-leap: unrepresentable -> skipped like any unparseable line,
    # never a ValueError that aborts the whole walk
    from kafka_connect_ftp_spark.sources.ftp import _parse_list_line

    assert _parse_list_line(
        "-rw-r--r--   1 ftp ftp       10 Feb 29 12:00 leap.txt",
        now=dt.datetime(2026, 3, 1),
    ) is None


def test_parse_list_line_variants():
    from kafka_connect_ftp_spark.sources.ftp import _parse_list_line

    name, is_dir, size, mtime = _parse_list_line(
        "-rw-r--r--   1 ftp ftp     1234 Mar 01  2025 data with spaces.csv"
    )
    assert (name, is_dir, size) == ("data with spaces.csv", False, 1234)
    assert mtime == dt.datetime(2025, 3, 1)
    # recent-file form carries a HH:MM instead of a year
    now = dt.datetime(2026, 8, 13, 9, 0)
    name, _, _, mtime = _parse_list_line(
        "-rw-r--r--   1 ftp ftp       10 Aug 12 23:45 fresh.txt", now=now
    )
    assert mtime == dt.datetime(2026, 8, 12, 23, 45)
    # a December timestamp seen in January belongs to LAST year
    name, _, _, mtime = _parse_list_line(
        "-rw-r--r--   1 ftp ftp       10 Dec 30 23:59 old.txt",
        now=dt.datetime(2026, 1, 2),
    )
    assert mtime == dt.datetime(2025, 12, 30, 23, 59)
    # symlinks and noise are skipped like commons-net's isFile gate
    assert _parse_list_line("lrwxrwxrwx   1 ftp ftp 4 Jun 01  2024 link -> target") is None
    assert _parse_list_line("total 42") is None
    # ACL/xattr markers after the permission bits (Linux '+', macOS '@',
    # SELinux '.') must not hide the entry
    name, is_dir, size, _ = _parse_list_line(
        "-rw-r--r--+   1 ftp ftp     1234 Mar 01  2025 acl.csv"
    )
    assert (name, is_dir, size) == ("acl.csv", False, 1234)
    name, is_dir, _, _ = _parse_list_line(
        "drwxr-xr-x@   2 ftp ftp     4096 Mar 01  2025 xattr_dir"
    )
    assert (name, is_dir) == ("xattr_dir", True)


def test_listing_table_equals_list_built_frame(spark):
    """The listing is a driver-built Arrow table that collects to
    exactly the rows — timestamps included — that ``createDataFrame``
    of the walked tuples gives."""
    from kafka_connect_ftp_spark.ingest.model import META_ARROW_SCHEMA
    from kafka_connect_ftp_spark.sources.ftp import _walk

    files = dict(TREE, **{"/a/root.txt": b"r", "/a/zz.txt": b"zz"})
    mtimes = {
        "/a/dira/path/file1.txt": "20240229235959",
        "/a/root.txt": "19991231000001",
        "/a/zz.txt": "20300101120000",
    }
    source = FtpSource(host="fake", _client_factory=lambda: FakeFtp(files, mtimes=mtimes))
    monitors = [MonitoredPath("/a/**", topic="t")]

    def list_built(rows):
        return spark.createDataFrame(sorted(rows), META_SCHEMA).collect()

    walked = list(_walk(FakeFtp(files, mtimes=mtimes), "/a", re.compile(r".*")))
    assert source.listing(spark, monitors).schema == META_ARROW_SCHEMA
    listing = listing_frame(spark, source, monitors).orderBy("path")
    assert listing.collect() == list_built(walked)


class CountingFtp(FakeFtp):
    retr_count = 0  # class-level: survives executor->driver via... no — see test

    def retrbinary(self, cmd, callback):
        # count RETRs through a file-based counter (executor processes
        # can't mutate driver state)
        with open(self._counter_path, "a") as fh:
            fh.write(cmd.split(" ", 1)[1] + "\n")
        super().retrbinary(cmd, callback)


def _counting_source(files, counter, mtimes=None):
    """An FtpSource over ``files`` whose RETRs append to ``counter``.
    ``mtimes`` is read at each connect, so a test can move a file's
    timestamp between ticks."""

    def factory():
        ftp = CountingFtp(files, mtimes=mtimes)
        ftp._counter_path = counter
        return ftp

    return FtpSource(host="fake", _client_factory=factory)


def _retrs(counter) -> list[str]:
    """The RETRs since the last call, as a sorted LIST: a file fetched
    twice shows twice."""
    if not os.path.exists(counter):
        return []
    with open(counter) as fh:
        got = sorted(fh.read().split())
    os.remove(counter)
    return got


def test_incremental_fetch_skips_unchanged(spark, tmp_path):
    counter = str(tmp_path / "retrs.log")
    files, mtimes = dict(TREE), {}
    monitors = [MonitoredPath("/a/dirb/path/", topic="t")]
    pipe = PollPipeline(
        spark, monitors, str(tmp_path / "state"), drop_empty=True,
        source=_counting_source(files, counter, mtimes),
    )
    assert pipe.poll(now="2024-06-01 12:00:00").count() == 2
    assert _retrs(counter) == ["/a/dirb/path/file3.txt", "/a/dirb/path/file4.csv"]

    # tick 1: only file3 changes (its mtime alone advances); file4 must
    # NOT be RETR'd again
    files["/a/dirb/path/file3.txt"] = b"three-changed"
    mtimes["/a/dirb/path/file3.txt"] = "20240601120100"
    got = {(r.key_name, bytes(r.value)) for r in pipe.poll(now="2024-06-01 12:01:00").collect()}
    assert got == {("/a/dirb/path/file3.txt", b"three-changed")}
    assert _retrs(counter) == ["/a/dirb/path/file3.txt"]


def test_overlapping_monitors_fetch_each_file_once(spark, tmp_path):
    counter = str(tmp_path / "retrs.log")
    files, mtimes = dict(TREE), {}
    monitors = [
        MonitoredPath("/a/dirb/path/", topic="all"),
        MonitoredPath("/a/dir?/path/*.txt", topic="txt"),
    ]
    pipe = PollPipeline(
        spark, monitors, str(tmp_path / "state"),
        source=_counting_source(files, counter, mtimes),
    )
    got = sorted((r.topic, r.key_name) for r in pipe.poll().collect())
    assert got == [
        ("all", "/a/dirb/path/file3.txt"),
        ("all", "/a/dirb/path/file4.csv"),
        ("txt", "/a/dira/path/file1.txt"),
        ("txt", "/a/dirb/path/file3.txt"),
    ]
    assert _retrs(counter) == [
        "/a/dira/path/file1.txt", "/a/dirb/path/file3.txt", "/a/dirb/path/file4.csv",
    ]

    files["/a/dirb/path/file3.txt"] = b"three+"
    mtimes["/a/dirb/path/file3.txt"] = "20240601120100"
    got = sorted((r.topic, bytes(r.value)) for r in pipe.poll().collect())
    assert got == [("all", b"three+"), ("txt", b"three+")]
    assert _retrs(counter) == ["/a/dirb/path/file3.txt"]


def test_max_files_per_poll_fetches_only_the_capped_files(spark, tmp_path):
    counter = str(tmp_path / "retrs.log")
    files = {f"/n/f{i}": b"body%d" % i for i in range(3)}
    mtimes = {f"/n/f{i}": f"2024060112000{i}" for i in range(3)}
    pipe = PollPipeline(
        spark, [MonitoredPath("/n/", topic="t")], str(tmp_path / "state"),
        max_files_per_poll=1, source=_counting_source(files, counter, mtimes),
    )
    for i in range(3):  # oldest first, one file per tick
        assert [r.key_name for r in pipe.poll().collect()] == [f"/n/f{i}"]
        assert _retrs(counter) == [f"/n/f{i}"]
    assert pipe.poll().count() == 0
    assert _retrs(counter) == []


def test_aged_out_file_is_never_fetched(spark, tmp_path):
    counter = str(tmp_path / "retrs.log")
    recent = (dt.datetime.now() - dt.timedelta(hours=1)).strftime("%Y%m%d%H%M%S")
    files = {"/m/old": b"old", "/m/new": b"new"}
    mtimes = {"/m/new": recent}  # /m/old keeps the fake's 2024 default
    pipe = PollPipeline(
        spark, [MonitoredPath("/m/", topic="t")], str(tmp_path / "state"),
        max_age_seconds=2 * 86400, source=_counting_source(files, counter, mtimes),
    )
    assert [r.key_name for r in pipe.poll().collect()] == ["/m/new"]
    assert _retrs(counter) == ["/m/new"]
    # the old file changes but is still past the max age: never fetched
    files["/m/old"] = b"old, changed"
    mtimes["/m/old"] = "20240602120000"
    assert pipe.poll().count() == 0
    assert _retrs(counter) == []


def test_listing_walks_a_shared_tree_once_over_one_connection(spark):
    listed, connects = [], []

    class ListCountingFtp(FakeFtp):
        def mlsd(self, path, facts=()):
            listed.append(path)
            return super().mlsd(path, facts)

    def factory():
        connects.append(1)
        return ListCountingFtp(dict(TREE))

    monitors = [
        MonitoredPath("/a/dirb/path/", topic="all"),
        MonitoredPath("/a/dir?/path/*.txt", topic="txt"),
    ]
    meta = listing_frame(spark, FtpSource(host="fake", _client_factory=factory), monitors)
    assert meta.columns == ["path", "size", "modification_time"]
    assert sorted(r.path for r in meta.collect()) == [
        "/a/dira/path/file1.txt", "/a/dirb/path/file3.txt", "/a/dirb/path/file4.csv",
    ]
    assert len(connects) == 1
    assert sorted(listed) == sorted(set(listed))  # every dir listed once


def test_tls_connect_uses_ftps_and_prot_p(monkeypatch):
    """tls=True builds an FTP_TLS client and encrypts the data channel
    (AUTH TLS via login, then PROT P) before entering passive mode."""
    import ftplib

    calls = []

    class StubTls:
        def __init__(self, timeout=None):
            calls.append(("ctor", timeout))

        def connect(self, host, port):
            calls.append(("connect", host, port))

        def login(self, user, password):
            calls.append(("login", user))

        def prot_p(self):
            calls.append(("prot_p",))

        def set_pasv(self, flag):
            calls.append(("pasv", flag))

    monkeypatch.setattr(ftplib, "FTP_TLS", StubTls)
    monkeypatch.setattr(
        "kafka_connect_ftp_spark.sources.ftp._enable_tcp_keepalive", lambda ftp: None
    )
    src = FtpSource(host="secure.example", user="u", password="p", tls=True)
    src._connect()
    assert [c[0] for c in calls] == ["ctor", "connect", "login", "prot_p", "pasv"]
    assert ("connect", "secure.example", 21) in calls


def test_busy_ftp_tick_job_budget(spark, tmp_path):
    """A busy FTP tick runs the jobs a local one does: the fetch
    coalesces the changed rows (no shuffle), so the materializing action
    and the sink's write are all; an idle tick runs none."""
    from kafka_connect_ftp_spark.streaming.ingest_stream import idempotent_parquet_sink
    from tests.test_pipeline import _jobs

    counter = str(tmp_path / "retrs.log")
    files = {f"/j/f{i}": b"body%d" % i for i in range(12)}
    mtimes = {}
    pipe = PollPipeline(
        spark, [MonitoredPath("/j/", topic="t")], str(tmp_path / "state"),
        source=_counting_source(files, counter, mtimes),
    )
    sink = idempotent_parquet_sink(str(tmp_path / "out"))
    backfill = _jobs(spark, lambda: pipe.poll(sink=sink, epoch=0))
    assert _retrs(counter) == sorted(files)

    changed = ["/j/f0", "/j/f5", "/j/f11"]
    for p in changed:
        files[p] += b"+"
        mtimes[p] = "20240601120100"
    busy = _jobs(spark, lambda: pipe.poll(sink=sink, epoch=1))
    assert pipe.last_metrics["n_changed"] == 3
    assert _retrs(counter) == sorted(changed)
    idle = _jobs(spark, lambda: pipe.poll(sink=sink, epoch=2))

    print(f"FTP jobs per tick: backfill {backfill}, busy {busy}, idle {idle}")
    assert backfill <= 2
    assert busy <= 2
    assert idle == 0


def test_file_vanishing_between_list_and_retr_is_fetched_when_back(spark, tmp_path):
    """A listed file that answers RETR with 550 (rotated away after the
    LIST) costs the tick nothing else: the other files are delivered,
    the missing one gets no state row, and the next tick fetches it
    once it is back."""
    import ftplib

    files = {"/v/a": b"a", "/v/b": b"b", "/v/c": b"c"}
    gone = {"/v/b"}

    class VanishingFtp(FakeFtp):
        def retrbinary(self, cmd, callback):
            if cmd.split(" ", 1)[1] in gone:
                raise ftplib.error_perm("550 no such file")
            super().retrbinary(cmd, callback)

    pipe = PollPipeline(
        spark, [MonitoredPath("/v/", topic="t")], str(tmp_path / "state"),
        source=FtpSource(host="fake", _client_factory=lambda: VanishingFtp(files)),
    )
    got = {(r.key_name, bytes(r.value)) for r in pipe.poll().collect()}
    assert got == {("/v/a", b"a"), ("/v/c", b"c")}
    assert sorted(pipe.load_state()["path"].to_pylist()) == ["/v/a", "/v/c"]

    gone.clear()
    got = {(r.key_name, bytes(r.value)) for r in pipe.poll().collect()}
    assert got == {("/v/b", b"b")}
    assert sorted(pipe.load_state()["path"].to_pylist()) == ["/v/a", "/v/b", "/v/c"]


def test_mlsd_downgrade_is_sticky_across_listings(spark):
    """A server that answers MLSD with 502 once puts the source on
    classic LIST for good: its next listing sends no MLSD, so LIST's
    coarser timestamps never flip back to MLSD's and re-stamp the tree."""
    import ftplib

    mlsd_calls = []

    class OnceMlsdFtp(ListOnlyFtp):
        def mlsd(self, path, facts=()):
            mlsd_calls.append(path)
            if len(mlsd_calls) == 1:
                raise ftplib.error_perm("502 MLSD not implemented")
            return FakeFtp.mlsd(self, path, facts)

    source = FtpSource(host="fake", _client_factory=lambda: OnceMlsdFtp(dict(TREE)))
    monitors = [MonitoredPath("/a/dirb/path/", topic="t")]
    first = source.listing(spark, monitors)
    assert mlsd_calls == ["/a/dirb/path"]
    second = source.listing(spark, monitors)
    assert mlsd_calls == ["/a/dirb/path"]
    assert second.sort_by("path").equals(first.sort_by("path"))
    assert sorted(second["path"].to_pylist()) == [
        "/a/dirb/path/file3.txt", "/a/dirb/path/file4.csv",
    ]


def test_noop_clock_keeps_the_control_channel_alive(monkeypatch):
    """Between transfers the clock sends NOOP once the interval has
    passed since the last transfer, none before that, and a failed
    NOOP never fails the fetch."""
    import ftplib
    import types

    from kafka_connect_ftp_spark.sources import ftp as ftp_module

    now = [100.0]
    monkeypatch.setattr(ftp_module, "time", types.SimpleNamespace(monotonic=lambda: now[0]))

    class Control:
        def __init__(self, fail=False):
            self.sent, self.fail = [], fail

        def voidcmd(self, cmd):
            self.sent.append(cmd)
            if self.fail:
                raise ftplib.error_temp("421 control connection timed out")

    clock = ftp_module._NoopClock(interval_seconds=15.0)
    ftp = Control()
    now[0] = 110.0
    clock.tick(ftp)
    assert ftp.sent == []
    now[0] = 124.9
    clock.tick(ftp)
    assert ftp.sent == []
    now[0] = 140.0
    clock.tick(ftp)
    assert ftp.sent == ["NOOP"]

    failing = Control(fail=True)
    now[0] = 160.0
    clock.tick(failing)
    assert failing.sent == ["NOOP"]
