"""Seeded file tree for the poll-tick workloads, with an exact record model.

The generator owns the tree: it writes every file, mutates the tree
between ticks, and keeps the bytes of every file in memory. From those
bytes it derives the records one tick must emit, by the reference rules
documented in ``kafka_connect_ftp_spark/ingest/snapshot.py``:

- a new file yields its whole body at offset 0;
- an update-mode file whose bytes changed yields its whole body at 0;
- a tail-mode file that grew with its old bytes as prefix yields the
  appended suffix at ``offset = previous size``;
- a tail-mode file that grew over a different prefix (a rotation to a
  larger file) yields its whole body at 0;
- a tail-mode file that did not grow (a rotation to a smaller file)
  yields an empty body at 0;
- a file whose listing metadata moved but whose bytes did not yields an
  empty body at 0.

Files the generator did not touch since the last tick yield nothing.
"""

from __future__ import annotations

import collections
import hashlib
import os
from dataclasses import dataclass

import numpy as np

KB = 1024

LOG_TOPIC = "logs"
CSV_TOPIC = "csvs"


@dataclass(frozen=True)
class TreeSpec:
    """Shape of a tree and of the churn applied between two ticks.

    ``active_logs`` tail-mode logs and ``active_csvs`` update-mode csvs
    churn; ``idle_files`` small files (half logs, half csvs) never change
    after the first tick, so listing and the state join see a tree much
    larger than the delta."""

    dirs: int
    active_logs: int
    log_bytes: tuple[int, int]
    active_csvs: int
    csv_bytes: tuple[int, int]
    idle_files: int
    idle_bytes: tuple[int, int]
    appends: int
    append_bytes: tuple[int, int]
    rotations: int
    rewrites: int


# 50 directories (so listing takes Spark's parallel-listing path), 180
# churning files of 16-128 KB and 800 idle files of 0.2-4 KB. Each tick
# appends 4-32 KB to half the logs, rotates 2 of them and rewrites 20% of
# the csvs: by these sizes, about 7 MB read and 1.7 MB emitted per tick.
LOG_TAIL = TreeSpec(
    dirs=50,
    active_logs=120,
    log_bytes=(32 * KB, 128 * KB),
    active_csvs=60,
    csv_bytes=(16 * KB, 64 * KB),
    idle_files=800,
    idle_bytes=(200, 4 * KB),
    appends=60,
    append_bytes=(4 * KB, 32 * KB),
    rotations=2,
    rewrites=12,
)

# the same shape at a size the benchmark's own tests run in seconds
TINY = TreeSpec(
    dirs=4,
    active_logs=8,
    log_bytes=(1 * KB, 4 * KB),
    active_csvs=4,
    csv_bytes=(1 * KB, 2 * KB),
    idle_files=8,
    idle_bytes=(100, 400),
    appends=4,
    append_bytes=(100, 1 * KB),
    rotations=1,
    rewrites=1,
)

_LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")


def _text_pool(rng: np.random.Generator, size: int) -> bytes:
    """Log-like text that file bodies are cut from, so the sink sees
    realistic (compressible) values rather than random bytes."""
    lines = []
    total = 0
    n = 0
    while total < size:
        line = (
            f"2024-01-{1 + n % 28:02d}T{n % 24:02d}:{n % 60:02d}:{(n * 7) % 60:02d}"
            f".{int(rng.integers(0, 1000)):03d} {_LEVELS[int(rng.integers(0, 6))]} "
            f"worker-{int(rng.integers(0, 16))} req={int(rng.integers(0, 10**9))} "
            f"bytes={int(rng.integers(0, 10**6))} ms={float(rng.exponential(20.0)):.3f}\n"
        )
        lines.append(line)
        total += len(line)
        n += 1
    return "".join(lines).encode()


class Tree:
    """A generated tree plus the in-memory model of its bytes."""

    def __init__(self, root: str, spec: TreeSpec, seed: int | list[int]) -> None:
        self.root = os.path.realpath(root)
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        self._pool = _text_pool(self.rng, 2 * max(spec.log_bytes[1], spec.append_bytes[1]))
        self._writes = 0
        self.files: dict[str, bytes] = {}
        self.tail: dict[str, bool] = {}
        # path -> bytes at the previous tick (None: new since then)
        self._touched: dict[str, bytes | None] = {}
        self.active_logs: list[str] = []
        self.active_csvs: list[str] = []
        os.makedirs(self.root, exist_ok=True)
        for d in range(spec.dirs):
            os.makedirs(os.path.join(self.root, f"d{d:03d}"), exist_ok=True)
        k = 0
        for i in range(spec.active_logs):
            self.active_logs.append(self._create(f"app{i:05d}.log", spec.log_bytes, k))
            k += 1
        for i in range(spec.active_csvs):
            self.active_csvs.append(self._create(f"table{i:05d}.csv", spec.csv_bytes, k))
            k += 1
        for i in range(spec.idle_files):
            ext = "log" if i % 2 == 0 else "csv"
            self._create(f"idle{i:05d}.{ext}", spec.idle_bytes, k)
            k += 1

    @property
    def monitors(self) -> list[tuple[str, str, bool]]:
        """(glob, topic, tail) per monitor: logs tail, csvs update."""
        return [
            (f"{self.root}/**/*.log", LOG_TOPIC, True),
            (f"{self.root}/**/*.csv", CSV_TOPIC, False),
        ]

    # -- byte generation ----------------------------------------------------
    def _body(self, lo_hi: tuple[int, int]) -> bytes:
        """A fresh body: a unique header line, then a cut of the text pool.
        The header makes every write differ from every earlier one, so a
        rotation never keeps its old prefix by chance."""
        self._writes += 1
        n = int(self.rng.integers(lo_hi[0], lo_hi[1] + 1))
        head = f"# write {self._writes}\n".encode()
        start = int(self.rng.integers(0, len(self._pool) - n))
        return (head + self._pool[start : start + n])[:n]

    def _create(self, name: str, lo_hi: tuple[int, int], k: int) -> str:
        path = os.path.join(self.root, f"d{k % self.spec.dirs:03d}", name)
        body = self._body(lo_hi)
        with open(path, "wb") as fh:
            fh.write(body)
        self.files[path] = body
        self.tail[path] = path.endswith(".log")
        self._touched[path] = None
        return path

    def _write(self, path: str, body: bytes, *, append: bool) -> None:
        self._touched.setdefault(path, self.files[path])
        with open(path, "ab" if append else "wb") as fh:
            fh.write(body)
        self.files[path] = self.files[path] + body if append else body

    # -- churn --------------------------------------------------------------
    def mutate(self) -> None:
        """One tick's churn on disjoint file sets: tail appends and
        rotations on the active logs, whole rewrites on active csvs."""
        s = self.spec
        logs = self.rng.permutation(len(self.active_logs))
        for i in logs[: s.appends]:
            path = self.active_logs[i]
            n = int(self.rng.integers(s.append_bytes[0], s.append_bytes[1] + 1))
            start = int(self.rng.integers(0, len(self._pool) - n))
            self._write(path, self._pool[start : start + n], append=True)
        for i in logs[s.appends : s.appends + s.rotations]:
            self._write(self.active_logs[i], self._body(s.log_bytes), append=False)
        for i in self.rng.permutation(len(self.active_csvs))[: s.rewrites]:
            self._write(self.active_csvs[i], self._body(s.csv_bytes), append=False)

    # -- the model ------------------------------------------------------------
    def expected_records(self) -> list[tuple[str, str, int, bytes]]:
        """(topic, key_name, key_offset, value) for every file touched since
        the last call, then start a new tick."""
        out = []
        for path, prev in sorted(self._touched.items()):
            out.append(expected_record(path, prev, self.files[path], self.tail[path]))
        self._touched = {}
        return out


def expected_record(
    path: str, prev: bytes | None, cur: bytes, tail: bool
) -> tuple[str, str, int, bytes]:
    """The one record a tick emits for a file whose listing metadata moved
    (``prev`` is None for a file the previous tick did not know)."""
    topic = LOG_TOPIC if tail else CSV_TOPIC
    if prev is None:
        return topic, path, 0, cur
    if prev == cur:
        return topic, path, 0, b""
    if not tail:
        return topic, path, 0, cur
    if len(cur) > len(prev):
        if cur[: len(prev)] == prev:
            return topic, path, len(prev), cur[len(prev) :]
        return topic, path, 0, cur
    return topic, path, 0, b""


def diff_records(
    expected: list[tuple[str, str, int, bytes]],
    actual: list[tuple[str, str, int, bytes]],
) -> list[str]:
    """Multiset difference of two record lists, one line per problem: a
    dropped, duplicated or extra record, or a wrong offset or value."""

    def key(r):
        return r[0], r[1], int(r[2]), hashlib.sha256(bytes(r[3] or b"")).hexdigest()

    want = collections.Counter(key(r) for r in expected)
    got = collections.Counter(key(r) for r in actual)
    problems = []
    for k in sorted(want.keys() | got.keys()):
        w, g = want.get(k, 0), got.get(k, 0)
        if w != g:
            problems.append(
                f"{k[1]} ({k[0]}) @{k[2]} value {k[3][:12]}: expected {w}, got {g}"
            )
    return problems
