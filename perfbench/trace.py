"""Per-layer tracing from outside the program.

Two sources, joined by wall-clock time:

- **Spans.** The benchmark wraps public functions of the program (and
  its own calls into them) in named spans. A span records its wall
  window and its parent, so each span also has a *self* time: its
  duration minus its children's.
- **Spark's event log**, switched on through launch configuration
  (``PYSPARK_SUBMIT_ARGS``), uncompressed and unrolled. Each job and each
  task is folded into the innermost span whose window contains the job's
  submission time or the task's launch time. Time windows, not job
  groups, decide: some plans submit jobs from a thread pool.

A wrapped function that no longer exists, or a span that never fires,
raises instead of reporting zeros.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import math
import os
import time
from dataclasses import dataclass, field

# per-span metrics, in output order; ``ms`` is the span's self time
SPAN_METRICS = (
    "ms",
    "driver_ms",
    "jobs",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "task_wait_ms",
    "gc_ms",
    "shuffle_bytes",
    "spill_bytes",
    "python_ms",
    "failed_tasks",
)

# SQL-metric accumulables of the Python runners (PythonSQLMetrics)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
# rows out of the program's file-fetch operator (``_local_fetch``: a
# mapInPandas over ``fetch_partition``), read from the SQL plans
FETCH_NODE = "MapInPandas fetch_partition("
FETCH_ROWS = "fetch_rows"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    phase: str = ""
    label: str = ""
    children_s: float = 0.0

    @property
    def self_ms(self) -> float:
        return max(0.0, (self.end - self.start - self.children_s) * 1000.0)


@dataclass
class Tracer:
    """Collects spans. ``phase`` tags every span opened while it is set,
    so the caller can aggregate the measured window only."""

    spans: list[Span] = field(default_factory=list)
    phase: str = ""
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, label: str = ""):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, phase=self.phase, label=label)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.end - sp.start

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; fails loudly if
        the attribute is gone."""
        orig = getattr(owner, attr, None)
        if orig is None or not callable(orig):
            raise RuntimeError(f"cannot trace {name}: {owner!r} has no callable {attr!r}")
        setattr(owner, attr, self.wrap_callable(orig, name))

    def wrap_callable(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


# -- event log ---------------------------------------------------------------
@dataclass
class Job:
    job_id: int
    submitted_ms: int
    completed_ms: int = 0


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_bytes: int
    spill_bytes: int
    input_bytes: int
    output_records: int
    accums: dict[str, float]


def _accumulables(info: dict, fetch_ids: set[int]) -> dict[str, float]:
    out: dict[str, float] = {}
    for acc in info.get("Accumulables", []) or []:
        name = acc.get("Name")
        if acc.get("ID") in fetch_ids:
            name = FETCH_ROWS
        upd = acc.get("Update")
        if name in (PY_TIME, PY_SENT, PY_RECEIVED, FETCH_ROWS) and upd is not None:
            try:
                out[name] = out.get(name, 0.0) + float(upd)
            except (TypeError, ValueError):
                pass
    return out


def _fetch_row_ids(plan: dict, into: set[int]) -> None:
    """Accumulator ids of "number of output rows" on every fetch node of a
    SQL plan (initial or adaptive re-plan)."""
    if plan.get("simpleString", "").startswith(FETCH_NODE):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                into.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _fetch_row_ids(child, into)


# the only events folding needs; every other line (task starts, stage
# and accumulator updates) is skipped before JSON decoding
_WANTED = (
    "SparkListenerApplicationStart",
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)


def parse_event_log(lines) -> tuple[list[Job], list[Task]]:
    """Jobs and task ends from the JSON lines of one or more event logs."""
    jobs: dict[tuple[int, int], Job] = {}
    tasks: list[Task] = []
    fetch_ids: set[int] = set()
    app = 0
    for line in lines:
        head = line[:100]
        if not any(w in head for w in _WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            _fetch_row_ids(ev.get("sparkPlanInfo") or {}, fetch_ids)
        elif kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[(app, jid)] = Job(jid, int(ev["Submission Time"]))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get((app, ev["Job ID"]))
            if job is not None:
                job.completed_ms = int(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            outp = m.get("Output Metrics") or {}
            tasks.append(
                Task(
                    launch_ms=int(info.get("Launch Time", 0)),
                    finish_ms=int(info.get("Finish Time", 0)),
                    failed=bool(info.get("Failed", False)),
                    run_ms=float(m.get("Executor Run Time", 0)),
                    cpu_ms=float(m.get("Executor CPU Time", 0)) / 1e6,
                    gc_ms=float(m.get("JVM GC Time", 0)),
                    shuffle_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                    spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
                    input_bytes=int(inp.get("Bytes Read", 0)),
                    output_records=int(outp.get("Records Written", 0)),
                    accums=_accumulables(info, fetch_ids),
                )
            )
    for job in jobs.values():
        if not job.completed_ms:
            job.completed_ms = job.submitted_ms
    return sorted(jobs.values(), key=lambda j: j.submitted_ms), tasks


def read_event_logs(log_dir: str) -> tuple[list[Job], list[Task]]:
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    for p in paths:
        if p.endswith((".zstd", ".lz4", ".snappy", ".lzf")) or os.path.isdir(p):
            raise RuntimeError(f"event log {p} is compressed or rolled; tracing needs plain JSON")

    def lines():
        for p in paths:
            with open(p, encoding="utf-8") as fh:
                yield from fh

    return parse_event_log(lines())


# -- folding -------------------------------------------------------------------
def innermost(spans: list[Span], t_ms: float) -> int | None:
    """Index of the deepest span whose window holds ``t_ms`` (epoch ms).
    Windows are widened by 1 ms each side: the JVM stamps whole ms."""
    best, best_depth = None, -1
    for i, sp in enumerate(spans):
        if sp.start * 1000.0 - 1.0 <= t_ms <= sp.end * 1000.0 + 1.0:
            depth, p = 0, sp.parent
            while p is not None:
                depth += 1
                p = spans[p].parent
            if depth > best_depth:
                best, best_depth = i, depth
    return best


@dataclass
class Fold:
    """Per-span-index totals after folding."""

    jobs: dict[int, list[Job]]
    tasks: dict[int, list[Task]]


def fold(spans: list[Span], jobs: list[Job], tasks: list[Task]) -> Fold:
    f = Fold({}, {})
    for job in jobs:
        i = innermost(spans, job.submitted_ms)
        if i is not None:
            f.jobs.setdefault(i, []).append(job)
    for task in tasks:
        i = innermost(spans, task.launch_ms)
        if i is not None:
            f.tasks.setdefault(i, []).append(task)
    return f


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_totals(spans: list[Span], f: Fold, indices: list[int]) -> dict[str, float]:
    """Summed metrics over the given span indices (all of one layer)."""
    out = {k: 0.0 for k in SPAN_METRICS}
    out.update(input_bytes=0.0, output_records=0.0, python_sent=0.0, python_received=0.0,
               fetch_rows=0.0)
    for i in indices:
        sp = spans[i]
        jobs = f.jobs.get(i, [])
        busy = _union_ms(
            [
                (max(j.submitted_ms, sp.start * 1000.0), min(j.completed_ms, sp.end * 1000.0))
                for j in jobs
                if j.completed_ms >= j.submitted_ms
            ]
        )
        out["ms"] += sp.self_ms
        out["driver_ms"] += max(0.0, sp.self_ms - busy)
        out["jobs"] += len(jobs)
        for t in f.tasks.get(i, []):
            out["tasks"] += 1
            out["task_run_ms"] += t.run_ms
            out["task_cpu_ms"] += t.cpu_ms
            out["task_wait_ms"] += max(0.0, (t.finish_ms - t.launch_ms) - t.run_ms)
            out["gc_ms"] += t.gc_ms
            out["shuffle_bytes"] += t.shuffle_bytes
            out["spill_bytes"] += t.spill_bytes
            out["python_ms"] += t.accums.get(PY_TIME, 0.0)
            out["failed_tasks"] += int(t.failed)
            out["input_bytes"] += t.input_bytes
            out["output_records"] += t.output_records
            out["python_sent"] += t.accums.get(PY_SENT, 0.0)
            out["python_received"] += t.accums.get(PY_RECEIVED, 0.0)
            out["fetch_rows"] += t.accums.get(FETCH_ROWS, 0.0)
    return out


def layer_metrics(
    spans: list[Span], f: Fold, layers: tuple[str, ...], *, phase: str, units: int
) -> dict[str, dict[str, float]]:
    """Per-layer totals over the spans of ``phase``, divided by ``units``
    (ticks or query passes in the measured window). Raises if a layer
    never fired in that phase."""
    out = {}
    for layer in layers:
        idx = [i for i, sp in enumerate(spans) if sp.name == layer and sp.phase == phase]
        if not idx:
            raise RuntimeError(f"span {layer!r} never fired in phase {phase!r}")
        tot = span_totals(spans, f, idx)
        out[layer] = {k: v / units for k, v in tot.items()}
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
