"""FTP listing/fetch source (reference S1-S6, FtpFileLister.scala +
FtpMonitor.scala:49-67,124-162) built on the standard-library ftplib.

Design for scale: the LIST traversal is driver-side (directory metadata is
tiny — the reference does the same round-trips), but content fetch is
distributed: each partition of the changed rows opens its own FTP
connection inside ``mapInPandas`` to RETR its share of files. That
removes the reference's single-connection bottleneck (SURVEY.md §4
"parallelism: 1") while keeping per-connection setup amortized over a
partition, not paid per file.

Change detection stays in the tick: the listing never downloads content,
and the tick hands ``fetch`` only the files whose size or timestamp
changed — FtpMonitor's list-then-filter-then-fetch ordering (:110-119).
"""

from __future__ import annotations

import datetime as dt
import ftplib
import re
import socket
import time
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_connect_ftp_spark.ingest.model import (
    META_ARROW_SCHEMA,
    MonitoredPath,
    monitors_regex,
    walk_roots,
    with_content,
)


@dataclass
class FtpSource:
    host: str
    user: str = "anonymous"
    password: str = ""
    port: int = 21
    timeout_seconds: float = 30.0  # reference hardcodes 30 s (FtpSourceConfig.scala:74)
    fetch_partitions: int = 8
    # FTPS (explicit TLS, RFC 4217): AUTH TLS on the control channel and
    # PROT P on the data channel. The reference is plaintext-only; real
    # deployments increasingly require this.
    tls: bool = False
    _client_factory: callable = field(default=None, repr=False)
    # sticky listing mode: once a server rejects MLSD the source stays on
    # classic LIST for its lifetime instead of re-probing every walk — a
    # load-balanced farm that answers MLSD intermittently would otherwise
    # alternate listing precision (MLSD second-UTC vs LIST minute-local)
    # and make every file look changed to metadata-diff consumers
    _prefer_mlsd: bool = field(default=True, repr=False)

    # -- connection -------------------------------------------------------
    def _connect(self) -> ftplib.FTP:
        if self._client_factory is not None:
            return self._client_factory()
        ftp = (ftplib.FTP_TLS if self.tls else ftplib.FTP)(timeout=self.timeout_seconds)
        ftp.connect(self.host, self.port)
        ftp.login(self.user, self.password)
        if self.tls:
            ftp.prot_p()  # encrypt the data channel too
        ftp.set_pasv(True)  # reference enters passive mode (FtpMonitor.scala:156)
        _enable_tcp_keepalive(ftp)
        return ftp

    # -- listing (driver-side metadata walk) ------------------------------
    def listing(self, spark: SparkSession, monitors: Iterable[MonitoredPath]) -> pa.Table:
        """Metadata-only listing (META_ARROW_SCHEMA): one walk per
        disjoint monitor base dir, all over one connection, matching the
        monitors' combined regex. Each naive LIST/MLSD time converts as
        ``createDataFrame`` would convert it (``TimestampType.toInternal``:
        the driver's local time)."""
        monitors = list(monitors)
        rx = re.compile(monitors_regex(monitors))
        mode = {"mlsd": self._prefer_mlsd}
        paths, sizes, mtimes = [], [], []
        to_micros = T.TimestampType().toInternal
        ftp = self._connect()
        try:
            for root in walk_roots(monitors):
                for path, size, mtime in _walk(ftp, root, rx, mode=mode):
                    paths.append(path)
                    sizes.append(size)
                    mtimes.append(to_micros(mtime))
        finally:
            self._prefer_mlsd = mode["mlsd"]
            _quietly_close(ftp)
        return pa.Table.from_arrays([paths, sizes, mtimes], schema=META_ARROW_SCHEMA)

    # -- fetch (distributed) ----------------------------------------------
    def fetch(self, spark: SparkSession, meta: DataFrame) -> DataFrame:
        """Attach ``content`` to each row of ``meta``; every other column
        passes through.

        Each partition opens one FTP connection and RETRs its files —
        the distributed replacement for FtpMonitor.fetch (:49-67).
        ``coalesce`` (no shuffle) merges the rows' partitions down to at
        most ``fetch_partitions``, so that caps the connections a fetch
        opens; a small delta opens fewer.
        """
        src = self

        def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ftp = None
            clock = _NoopClock()
            try:
                for pdf in batches:
                    if len(pdf) and ftp is None:
                        ftp = src._connect()
                    bodies = []
                    for p in pdf["path"]:
                        # a file rotated away between LIST and RETR is
                        # not an error (review 9b): raising would fail
                        # the TASK, Spark would retry it against the
                        # same missing file, and the whole fetch job —
                        # every other partition included — would abort.
                        # Skip the row; uncommitted state re-detects it
                        # next tick if it reappears.
                        bodies.append(_retr_or_none(ftp, p))
                        clock.tick(ftp)  # keepalive between transfers (T2 analog)
                    kept = pdf.assign(content=bodies)
                    yield kept[[b is not None for b in bodies]]
            finally:
                if ftp is not None:
                    _quietly_close(ftp)

        return meta.coalesce(self.fetch_partitions).mapInPandas(
            fetch_partition, with_content(meta.schema)
        )


def _retr(ftp: ftplib.FTP, path: str) -> bytes:
    chunks: list[bytes] = []
    ftp.retrbinary(f"RETR {path}", chunks.append)
    return b"".join(chunks)


def _retr_or_none(ftp: ftplib.FTP, path: str):
    """RETR one file; None if it vanished since planning (550) — a rotated
    file is not an error, it simply no longer exists to ingest."""
    try:
        return _retr(ftp, path)
    except ftplib.error_perm as exc:
        if str(exc).startswith("550"):
            return None
        raise


def _quietly_close(ftp: ftplib.FTP) -> None:
    try:
        ftp.quit()
    except Exception:  # noqa: BLE001
        try:
            ftp.close()
        except Exception:  # noqa: BLE001
            pass


def _enable_tcp_keepalive(ftp: ftplib.FTP, idle_seconds: int = 15) -> None:
    """Keep the control connection alive through long RETRs.

    The reference NOOPs the control channel every 15 s (FtpMonitor.scala:159)
    so aggressive NATs don't drop it during multi-minute transfers. ftplib
    can't interleave NOOP with an in-flight RETR without corrupting the
    reply stream, so the engine uses TCP-level keepalive on the control
    socket for the same effect, plus an application-level NOOP between
    transfers (see ``_NoopClock``)."""
    sock = getattr(ftp, "sock", None)
    if sock is None:
        return  # fake clients in tests
    try:
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_KEEPALIVE, 1)
        if hasattr(socket, "TCP_KEEPIDLE"):
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_KEEPIDLE, idle_seconds)
        if hasattr(socket, "TCP_KEEPINTVL"):
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_KEEPINTVL, idle_seconds)
    except OSError:
        pass  # platform without these options: best-effort


class _NoopClock:
    """Send NOOP when the control channel has been idle too long
    (between transfers — the protocol-safe portion of the reference's
    15 s keepalive loop)."""

    def __init__(self, interval_seconds: float = 15.0) -> None:
        self.interval = interval_seconds
        self.last = time.monotonic()

    def tick(self, ftp: ftplib.FTP) -> None:
        now = time.monotonic()
        if now - self.last >= self.interval:
            try:
                ftp.voidcmd("NOOP")
            except (OSError, ftplib.Error):
                pass
        self.last = now


class MlsdUnsupported(Exception):
    """Server rejected MLSD (RFC 3659 not implemented)."""


# Unix-style `LIST` line, e.g.
#   -rw-r--r--   1 ftp ftp     1234 Mar 01 12:30 data.csv
#   drwxr-xr-x   2 ftp ftp     4096 Mar 01  2025 subdir
_LIST_RX = re.compile(
    # 9 permission chars may carry an ACL/xattr marker ('+' on POSIX-ACL
    # Linux, '@' on macOS, '.' on SELinux) — commons-net accepts those, and
    # dropping them would silently skip every such file
    r"^(?P<type>[-dl])\S{9}[+@.]?\s+\d+\s+\S+\s+\S+\s+(?P<size>\d+)\s+"
    r"(?P<month>[A-Za-z]{3})\s+(?P<day>\d{1,2})\s+(?P<yt>\d{4}|\d{1,2}:\d{2})\s+(?P<name>.+)$"
)

_MONTHS = {m: i + 1 for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
)}


def _parse_list_line(line: str, now: dt.datetime | None = None):
    """One classic LIST line → (name, is_dir, size, mtime) or None.

    The commons-net path the reference rides (FtpFileLister.scala:36-49 via
    FTPClient.initiateListParsing) understands this format on servers that
    never learned MLSD; symlinks and unparseable lines are skipped like
    commons-net's isFile/isDirectory gates."""
    m = _LIST_RX.match(line.rstrip())
    if not m or m.group("type") == "l":
        return None
    now = now or dt.datetime.now()
    yt = m.group("yt")
    try:
        if ":" in yt:
            hour, minute = (int(x) for x in yt.split(":"))
            year = now.year
            mtime = dt.datetime(year, _MONTHS[m.group("month")], int(m.group("day")), hour, minute)
            if mtime > now + dt.timedelta(days=1):  # "Dec 30 23:59" seen in January
                mtime = mtime.replace(year=year - 1)
        else:
            mtime = dt.datetime(int(yt), _MONTHS[m.group("month")], int(m.group("day")))
    except ValueError:
        # e.g. "Feb 29 12:00" from a leap-year mtime parsed in a non-leap
        # current year: an unrepresentable date is an unparseable line —
        # skip it (commons-net parity) rather than abort the whole walk
        return None
    return m.group("name"), m.group("type") == "d", int(m.group("size")), mtime


def _list_dir(ftp: ftplib.FTP, cur: str, use_mlsd: bool):
    """Entries of one directory as (name, is_dir, size, mtime) tuples.

    MLSD when the server supports it; classic LIST parsing otherwise
    (``MlsdUnsupported`` tells the caller to switch modes)."""
    if use_mlsd:
        try:
            entries = []
            for name, facts in ftp.mlsd(cur, facts=["type", "size", "modify"]):
                if name in (".", "..") or facts.get("type") not in ("dir", "file"):
                    continue
                mtime = dt.datetime.strptime(
                    facts.get("modify", "19700101000000")[:14], "%Y%m%d%H%M%S"
                )
                entries.append((name, facts.get("type") == "dir", int(facts.get("size", 0)), mtime))
            return entries
        except ftplib.error_perm as err:
            code = str(err)[:3]
            # 500/502/504 = command not implemented → fall back to LIST;
            # anything else (550 no-access etc.) is the caller's concern
            if code in ("500", "502", "504"):
                raise MlsdUnsupported(str(err)) from err
            raise
    lines: list[str] = []
    ftp.dir(cur, lines.append)
    out = []
    for line in lines:
        parsed = _parse_list_line(line)
        if parsed and parsed[0] not in (".", ".."):
            out.append(parsed)
    return out


def _walk(
    ftp: ftplib.FTP, base: str, rx: re.Pattern, mode: dict | None = None
) -> Iterator[tuple[str, int, dt.datetime]]:
    """Recursive walk under ``base`` yielding matching plain files.

    MLSD-first with a classic-LIST fallback, matching the reference's
    commons-net listing which works on LIST-only servers
    (FtpFileLister.scala:36-49). A failure listing the walk ROOT is raised
    (so the poller's backoff engages, like the reference's loud LIST
    failure); per-subdirectory permission errors are skipped, since a
    partially readable tree should still yield its readable files.
    ``mode`` ({"mlsd": bool}) carries the listing mode in AND out so
    callers can make the MLSD downgrade sticky across walks.
    """
    root = base.rstrip("/") or "/"
    stack = [root]
    mode = mode if mode is not None else {"mlsd": True}
    while stack:
        cur = stack.pop()
        try:
            try:
                entries = _list_dir(ftp, cur, mode["mlsd"])
            except MlsdUnsupported:
                mode["mlsd"] = False
                entries = _list_dir(ftp, cur, False)
        except ftplib.error_perm:
            if cur == root:
                raise
            continue
        for name, is_dir, size, mtime in entries:
            path = f"{cur.rstrip('/')}/{name}"
            if is_dir:
                stack.append(path)
            elif rx.match(path):
                yield path, size, mtime
