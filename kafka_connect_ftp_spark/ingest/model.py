"""Data model for the ingestion engine.

Mirrors the reference's persisted state and record shapes
(FileMetaData.scala:12-16, ConnectFileMetaDataStore.scala:60-69,
SimpleFileConverter.scala:38-66) with Spark-native types: Instants become
TimestampType (micros), bodies are BinaryType.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

# One row per file per poll tick — what a directory listing reveals (a
# source's ``listing``), and with ``content`` what its ``fetch`` adds.
# Matches Spark's binaryFile columns (path, modificationTime, length, content).
META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("modification_time", T.TimestampType(), False),
    ]
)


def with_content(schema: T.StructType) -> T.StructType:
    """``schema`` plus the nullable ``content`` column a fetch attaches."""
    return T.StructType(schema.fields + [T.StructField("content", T.BinaryType(), True)])


LISTING_SCHEMA = with_content(META_SCHEMA)

# The per-path keyed state — field-for-field the reference's Connect offset
# map (size, timestamp, hash, firstfetched, lastmodified, lastinspected,
# offset; ConnectFileMetaDataStore.scala:60-69). ``offset`` is always -1 in
# practice (FileMetaData's default is never overwritten by the reference's
# fetch path) and is kept for state-schema parity.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("hash", T.StringType(), False),
        T.StructField("first_fetched", T.TimestampType(), False),
        T.StructField("last_modified", T.TimestampType(), False),
        T.StructField("last_inspected", T.TimestampType(), False),
        T.StructField("offset", T.LongType(), False),
    ]
)

# Emitted records: the struct-key projection (FileInfo{name, offset}) plus
# topic and value bytes (SimpleFileConverter.scala:54-66). ``key_offset`` is
# the byte position of the emitted slice within the file (0 except for tail
# suffixes). Empty-body records for unchanged-but-refetched files are kept
# for reference parity (EndToEnd.scala:89-94 filters them in expectations).
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("key_name", T.StringType(), False),
        T.StructField("key_offset", T.LongType(), False),
        T.StructField("value", T.BinaryType(), True),
    ]
)


@dataclass(frozen=True)
class MonitoredPath:
    """One watched directory/glob (FtpMonitor.scala:19-21 + MonitorConfig).

    ``path`` ending in "/" watches every file directly in that directory
    (the reference appends "/*"); otherwise it is a glob over full paths
    where ``*``/``?`` do not cross "/" boundaries (java.nio glob semantics,
    FtpFileLister.scala:20-25).
    """

    path: str
    topic: str
    tail: bool = False

    @property
    def pattern(self) -> str:
        return self.path + "*" if self.path.endswith("/") else self.path

    @property
    def regex(self) -> str:
        return glob_to_regex(self.pattern)


def glob_to_regex(glob: str) -> str:
    """Translate a java.nio-style glob to an anchored regex.

    Supports ``*`` (within segment), ``**`` (crosses segments), ``?``,
    ``[...]`` classes and ``{a,b}`` alternation — the java.nio glob
    constructs the reference's PathMatcher accepts
    (FtpFileLister.scala:20-25). ``*`` and ``?`` never match "/";
    ``**`` does.
    """
    return "^" + _glob_body(glob) + "$"


def _glob_body(glob: str) -> str:
    out, i = [], 0
    while i < len(glob):
        c = glob[i]
        if c == "*":
            if i + 1 < len(glob) and glob[i + 1] == "*":
                out.append(".*")
                i += 1
            else:
                out.append("[^/]*")
        elif c == "?":
            out.append("[^/]")
        elif c == "[":
            try:
                j = glob.index("]", i + 1)
            except ValueError:
                raise ValueError(f"unterminated '[' in glob {glob!r}") from None
            cls = glob[i + 1 : j]
            if cls.startswith("!"):
                cls = "^" + cls[1:]
            out.append("[" + cls + "]")
            i = j
        elif c == "{":
            try:
                j = glob.index("}", i + 1)
            except ValueError:
                raise ValueError(f"unterminated '{{' in glob {glob!r}") from None
            # java.nio allows glob constructs INSIDE alternatives
            # ({*.csv,*.json}); each one is translated recursively, not
            # escaped literally
            alts = glob[i + 1 : j].split(",")
            out.append("(" + "|".join(_glob_body(a) for a in alts) + ")")
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)

def glob_free_prefix(pattern: str) -> str:
    """Longest glob-free DIRECTORY prefix of a monitor pattern — the
    tree-walk root (the reference's pathParts.init split,
    FtpFileLister.scala:32-34). A fixed path (no glob metacharacters,
    as recognized by ``glob_to_regex``: ``*?[{``) walks its parent.
    ONE definition (review 9b: sources/ftp.py and ingest/pipeline.py
    carried divergent copies that had to track glob_to_regex's
    metacharacter set in lockstep)."""
    parts = pattern.split("/")
    out = []
    hit_glob = False
    for part in parts:
        if any(ch in part for ch in "*?[{"):
            hit_glob = True
            break
        out.append(part)
    if not hit_glob:
        # fixed path: the last segment names the file — or is the ''
        # of a trailing slash — either way the walk root is the parent
        out = out[:-1]
    return "/".join(out) or "/"


def walk_roots(monitors) -> list[str]:
    """The disjoint walk roots of ``monitors``: each monitor's glob-free
    prefix, minus any root nested under another, so a tree shared by
    several monitors is listed once."""
    roots: list[str] = []
    for base in sorted({glob_free_prefix(m.pattern) for m in monitors}):
        if not any(base == r or base.startswith(r.rstrip("/") + "/") for r in roots):
            roots.append(base)
    return roots


def monitors_regex(monitors) -> str:
    """One regex matching a path iff some monitor's pattern does."""
    return "|".join(f"(?:{m.regex})" for m in monitors)
