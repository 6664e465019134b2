#!/usr/bin/env python3
"""Benchmark: poll ticks over a churning tree, and registry queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see README.md):

- ``log_tail``: ``PollPipeline.poll`` ticks over a seeded tree whose
  logs grow, rotate and whose csvs are rewritten between ticks; each
  tick's sink output is checked record by record against the tree model.
- ``analytics_queries``: registry queries over the sf0.1 test tables
  (``perfbench/data/sf0.1``), each built and written to the ``noop``
  format; results are checked against the queries' DuckDB oracles.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns Spark's event log on through launch configuration
and reports per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402
from perfbench.treegen import LOG_TAIL, TINY, Tree, diff_records  # noqa: E402

# The sf0.1 test tables the registry queries and their DuckDB oracles
# were tuned against, kept with the benchmark so a run reads nothing
# outside its checkout.
DATA_DIR = os.path.join(HERE, "data", "sf0.1")

# The registry queries of the analytics workload, all at sf0.1, each
# about a second warm: q5_local_supplier_volume is the TPC-H
# join-and-aggregate shape (9 Spark jobs), and embedding_cosine_topk runs
# a mapInPandas across the Python/Arrow boundary. The set is cut for time
# alone: all 24 headline queries take about 80 s cold and 40 s per warm
# pass on 4 cores, and a run must fit in about a minute with several
# fresh-session and warm passes in it.
QUERIES = (
    "q5_local_supplier_volume",
    "embedding_cosine_topk",
)
TINY_QUERIES = ("q5_local_supplier_volume",)

# bench.py's 24 headline queries, for the full job-count report
# (``--queries headline``; too slow for a timed run).
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "window_rank_family", "changelog_latest_state",
    "asof_join_click_purchase", "sessionize_events", "dedup_exact",
    "minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_fingerprint",
    "embedding_cosine_topk", "embedding_near_dup_pairs", "text_profile",
    "chunk_documents", "quality_filter_flags", "governance_profile",
    "dedup_cluster_decision", "span_dedup_decision", "corpus_report",
    "repetition_profile", "pq_adc_topk", "crawl_corpus_family",
)

SETUPS = 3  # session set-ups per run; setup_s is their median
# A run first pays the JVM's own cold start (class loading, JIT) on an
# untimed backfill of a tiny tree or an untimed query pass, reported as
# detail only: one such sample per run swings by a third with the host's
# load. The timed window is a series of rounds, each a backfill or a
# fresh-session pass (the cold samples) followed by warm ticks or passes,
# so both kinds of sample spread over the window alike; each metric is
# the median of its samples. The first round is warm-up and not counted:
# its backfill and ticks, or its passes, still run 20-60% slow while the
# JIT compiles, by however far compilation got.
TICKS_PER_ROUND = 2
PASSES_PER_ROUND = 2
# fewest rounds per run, the warm-up round included: a round of ticks
# takes about 11 s on 4 cores, a round of passes about 8 s
TICK_ROUNDS = 3
PASS_ROUNDS = 4
WALL_LIMIT_S = 150.0  # stop measuring early rather than overrun 180 s

TICK_LAYERS = ("session", "listing", "state_load", "snapshot", "sink", "commit")
QUERY_LAYERS = ("session", "plan_build", "execute")
ALL_LAYERS = ("session", "listing", "state_load", "snapshot", "sink", "commit",
              "plan_build", "execute")
END_TO_END = ("setup_s", "cold_s", "warm_ms", "warm_geomean_ms", "peak_rss_mb")
RATIOS = (
    "fetch.files", "fetch.useful_ratio", "fetch.read_amplification", "sink.bytes",
    "state.bytes_on_disk", "state.rows_written_per_changed",
    "python.bytes_sent", "python.bytes_received",
)
UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_ms": "ms", "warm_geomean_ms": "ms",
    "peak_rss_mb": "MB", "ms": "ms", "driver_ms": "ms", "jobs": "count",
    "tasks": "count", "task_run_ms": "ms", "task_cpu_ms": "ms", "task_wait_ms": "ms",
    "gc_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes", "python_ms": "ms",
    "failed_tasks": "count", "fetch.files": "count", "fetch.useful_ratio": "ratio",
    "fetch.read_amplification": "ratio", "sink.bytes": "bytes",
    "state.bytes_on_disk": "bytes", "state.rows_written_per_changed": "ratio",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
}


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in ALL_LAYERS for m in tr.SPAN_METRICS]
    names += list(RATIOS)
    names += [f"traced.{m}" for m in END_TO_END]
    return names


def unit_of(name: str) -> str:
    if name.startswith("traced."):
        return UNITS[name[len("traced."):]]
    return UNITS.get(name) or UNITS[name.rsplit(".", 1)[1]]


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# -- host pinning --------------------------------------------------------------
def pin_host(work: str, event_dir: str | None) -> dict:
    """Environment for the driver JVM and Python workers, set before the
    first session. Everything a run writes lands under ``work``."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = min(1024, mem_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    # Python workers import the package from the checkout, whatever the cwd
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    submit = [
        # the whole heap from the start: how far G1 grows a smaller one
        # depends on pause timing, and moved peak RSS by 0.18 of its median
        "--driver-java-options", f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit) + " pyspark-shell"
    return {"nproc": nproc, "driver_mem_mb": driver_mb}


def import_program():
    """Import the package from this checkout, never from elsewhere."""
    import kafka_connect_ftp_spark

    where = os.path.realpath(kafka_connect_ftp_spark.__file__)
    if not where.startswith(os.path.realpath(ROOT) + os.sep):
        raise RuntimeError(f"kafka_connect_ftp_spark imported from {where}, not {ROOT}")


# -- the run ---------------------------------------------------------------------
class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tracer = tr.Tracer()
        self.spark = None
        self.get_spark = None
        self.attempted = 0
        self.failed = 0
        self.setup_times: list[float] = []
        self.jvm_cold_s = 0.0
        # seconds per backfill tick or fresh-session pass, and per warm
        # tick or warm pass, in the timed window
        self.cold: list[float] = []
        self.warm: list[float] = []
        self.warm_geomean_s = 0.0
        self.peak_rss_mb = 0.0
        self.extra: dict[str, float] = {}
        self.report: dict = {}
        self.t_start = time.monotonic()
        self.cpu_start = _cpu_ticks()

    @property
    def traced(self) -> bool:
        return bool(self.args.trace)

    def fail(self, what: str, problems) -> None:
        self.failed += 1
        log(f"FAILED {what}: {problems if isinstance(problems, str) else problems[:5]}")

    def rounds(self, minimum: int):
        """Yield round numbers while the timed window has room for one
        more round of average length (it ends near ``--seconds``, not past
        it), and always ``minimum`` of them."""
        start = time.monotonic()
        n = 0
        while True:
            elapsed = time.monotonic() - start
            if n >= minimum and (
                elapsed * (n + 1) / n > self.args.seconds
                or time.monotonic() - self.t_start > WALL_LIMIT_S
            ):
                return
            yield n
            n += 1

    # -- session ---------------------------------------------------------------
    def start_sessions(self) -> None:
        from kafka_connect_ftp_spark import session

        self.get_spark = self.tracer.wrap_callable(session.get_spark, "session") \
            if self.traced else session.get_spark
        self.tracer.phase = "setup"
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.get_spark("perfbench")
            self.spark.range(1).count()
            self.setup_times.append(time.perf_counter() - t0)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def new_session(self) -> None:
        """A fresh session (and SparkContext) in the running JVM."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.get_spark("perfbench")

    def read_peak_rss(self) -> None:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    self.peak_rss_mb = int(line.split()[1]) / 1024.0

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- workloads ---------------------------------------------------------------
    def log_tail(self, spec=LOG_TAIL) -> None:
        import pyarrow.parquet as pq

        # by module path: the ingest package re-exports a function named
        # ``snapshot`` that shadows the submodule attribute
        pl = importlib.import_module("kafka_connect_ftp_spark.ingest.pipeline")
        snap_mod = importlib.import_module("kafka_connect_ftp_spark.ingest.snapshot")
        from kafka_connect_ftp_spark.ingest.model import MonitoredPath
        from kafka_connect_ftp_spark.streaming.ingest_stream import idempotent_parquet_sink

        if self.traced:
            if getattr(pl, "snapshot", None) is not snap_mod.snapshot:
                raise RuntimeError("PollPipeline no longer calls ingest.snapshot.snapshot")
            self.tracer.wrap(pl.PollPipeline, "default_listing", "listing")
            self.tracer.wrap(pl.PollPipeline, "load_state", "state_load")
            self.tracer.wrap(pl, "snapshot", "snapshot")
            self.tracer.wrap(pl.PollPipeline, "poll", "commit")

        def monitored(name: str, shape, seed) -> SimpleNamespace:
            """A generated tree under its own pipeline, state and sink."""
            d = os.path.join(self.work, name)
            tree = Tree(os.path.join(d, "tree"), shape, seed)
            sink_dir, state_dir = os.path.join(d, "sink"), os.path.join(d, "state")
            sink = idempotent_parquet_sink(sink_dir)
            if self.traced:
                sink = self.tracer.wrap_callable(sink, "sink")
            pipe = pl.PollPipeline(
                self.spark,
                [MonitoredPath(g, t, tail) for g, t, tail in tree.monitors],
                state_dir,
            )
            return SimpleNamespace(dir=d, tree=tree, pipe=pipe, epoch=0, sink=sink,
                                   sink_dir=sink_dir, state_dir=state_dir)

        # the program's own per-tick counts, summed over the warm ticks
        records = changed = emitted = sink_bytes = 0

        def tick(m: SimpleNamespace) -> float:
            """One poll, timed, then its sink output checked against the
            tree model (untimed)."""
            nonlocal records, changed, emitted, sink_bytes
            epoch = m.epoch
            m.epoch += 1
            if epoch:
                m.tree.mutate()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                m.pipe.poll(sink=m.sink, epoch=epoch)
            except Exception:  # noqa: BLE001
                self.fail(f"tick {epoch}", traceback.format_exc())
                return time.perf_counter() - t0
            dt = time.perf_counter() - t0
            expected = m.tree.expected_records()
            out = os.path.join(m.sink_dir, f"epoch={epoch}")
            actual = []
            if os.path.isdir(out):
                cols = ["topic", "key_name", "key_offset", "value"]
                actual = [tuple(r.values()) for r in pq.read_table(out, columns=cols).to_pylist()]
            problems = diff_records(expected, actual)
            rows = m.pipe.last_metrics["n_tracked_paths"]
            if rows != len(m.tree.files):
                problems.append(f"state.rows {rows} != {len(m.tree.files)} files")
            if problems:
                self.fail(f"tick {epoch} records", problems)
            if self.tracer.phase == "warm":
                records += m.pipe.last_metrics["n_records"]
                changed += m.pipe.last_metrics["n_changed"]
                emitted += m.pipe.last_metrics["bytes_emitted"]
                sink_bytes += _dir_bytes(out)
            return dt

        # the JVM's cold start is paid on a small tree of the same shape
        self.tracer.phase = "jvm_cold"
        self.jvm_cold_s = tick(monitored("jvm_cold", TINY, [self.args.seed, 1 << 16]))
        main = None
        for r in self.rounds(TICK_ROUNDS):
            # a backfill: the first tick over a fresh tree and empty state;
            # the first round's tree is the one the warm ticks then poll
            fresh = monitored(f"tree{r}", spec, [self.args.seed, r])
            self.tracer.phase = "cold" if r else "warmup"
            dt = tick(fresh)
            if r:
                self.cold.append(dt)
            if main is None:
                main = fresh
            else:
                shutil.rmtree(fresh.dir, ignore_errors=True)
            self.tracer.phase = "warm" if r else "warmup"
            for _ in range(TICKS_PER_ROUND):
                dt = tick(main)
                if r:
                    self.warm.append(dt)
        self.warm_geomean_s = tr.geomean(self.warm)
        n = len(self.warm)
        self.extra = {
            "records": records / n,
            "changed": changed / n,
            "emitted": emitted / n,
            "sink.bytes": sink_bytes / n,
            "state.bytes_on_disk": float(_dir_bytes(main.state_dir)),
        }

    def analytics_queries(self) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import compare, duck_con

        from kafka_connect_ftp_spark.plans import registry

        minimum = PASS_ROUNDS
        if self.args.queries == "headline":
            names = HEADLINE
            minimum = 1  # one counted round: a pass over all 24 takes a minute
        else:
            names = TINY_QUERIES if self.args.size == "tiny" else QUERIES
        data = DATA_DIR
        reg = registry()
        missing = [q for q in names if q not in reg]
        if missing:
            raise RuntimeError(f"queries missing from the registry: {missing}")

        def build(q):
            if not self.traced:
                return reg[q].fn(self.spark, data)
            with self.tracer.span("plan_build", label=q):
                return reg[q].fn(self.spark, data)

        def execute(df, q, action):
            if not self.traced:
                return action(df)
            with self.tracer.span("execute", label=q):
                return action(df)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        per_query: dict[str, list[float]] = {q: [] for q in names}
        results: dict = {}

        def one_pass(order, action, keep=lambda q, dt, out: None) -> float:
            """Run every query once, handing each one's time and result to
            ``keep``; return the pass's total time."""
            total = 0.0
            for q in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    out = execute(build(q), q, action)
                except Exception:  # noqa: BLE001
                    self.fail(q, traceback.format_exc())
                    continue
                dt = time.perf_counter() - t0
                keep(q, dt, out)
                total += dt
            return total

        # the JVM's first pass collects the results the oracle check
        # compares; it keeps the listed order, so the query that pays for
        # JIT compilation is the same in every run
        self.tracer.phase = "jvm_cold"
        self.jvm_cold_s = one_pass(names, lambda df: df.toPandas(),
                                   lambda q, dt, out: results.__setitem__(q, out))

        # the seed orders the timed passes
        order = list(names)
        random.Random(self.args.seed).shuffle(order)
        for r in self.rounds(minimum):
            counted = r or minimum == 1
            self.tracer.phase = "cold" if counted else "warmup"
            self.new_session()
            dt = one_pass(order, noop)
            if counted:
                self.cold.append(dt)
            self.tracer.phase = "warm" if counted else "warmup"
            for _ in range(PASSES_PER_ROUND):
                if counted:
                    self.warm.append(one_pass(order, noop,
                                              lambda q, dt, out: per_query[q].append(dt)))
                else:
                    one_pass(order, noop)
        med = {q: statistics.median(v) for q, v in per_query.items() if v}
        self.warm_geomean_s = tr.geomean(list(med.values()))
        self.report["query_s"] = {q: round(v, 3) for q, v in med.items()}

        # untimed: every collected result against its DuckDB oracle
        con = duck_con(data)
        for q, pdf in results.items():
            oracle = reg[q].oracle
            if oracle is None:
                raise RuntimeError(f"{q} has no DuckDB oracle to check against")
            problems = compare(q, pdf, con.execute(oracle).fetchdf())
            if problems:
                self.fail(f"{q} result", problems)
        con.close()

    # -- per-layer ---------------------------------------------------------------
    def per_layer(self, event_dir: str) -> dict[str, float]:
        jobs, tasks = tr.read_event_logs(event_dir)
        spans = self.tracer.spans
        folded = tr.fold(spans, jobs, tasks)
        layers = TICK_LAYERS if self.args.workload == "log_tail" else QUERY_LAYERS
        n = len(self.warm)
        got = tr.layer_metrics(spans, folded, layers[1:], phase="warm", units=n)
        got.update(tr.layer_metrics(spans, folded, ("session",), phase="setup", units=SETUPS))
        out: dict[str, float] = {}
        for layer in ALL_LAYERS:
            vals = got.get(layer, {})
            for m in tr.SPAN_METRICS:
                out[f"{layer}.{m}"] = float(vals.get(m, 0.0))
        warm_layers = [got[layer] for layer in layers[1:]]
        sent = sum(v["python_sent"] for v in warm_layers)
        received = sum(v["python_received"] for v in warm_layers)
        out.update({k: 0.0 for k in RATIOS})
        out["python.bytes_sent"] = sent
        out["python.bytes_received"] = received
        if self.args.workload == "log_tail":
            snap = got["snapshot"]
            read = snap["python_received"] + snap["input_bytes"]
            # rows out of the program's fetch operator, wherever it ran
            fetched = sum(v["fetch_rows"] for v in warm_layers)
            if not fetched:
                raise RuntimeError(f"no rows out of a {tr.FETCH_NODE!r} node in the warm ticks")
            out["fetch.files"] = fetched
            out["fetch.useful_ratio"] = self.extra["changed"] / fetched
            out["fetch.read_amplification"] = read / max(self.extra["emitted"], 1.0)
            out["sink.bytes"] = self.extra["sink.bytes"]
            out["state.bytes_on_disk"] = self.extra["state.bytes_on_disk"]
            out["state.rows_written_per_changed"] = got["commit"]["output_records"] / max(
                self.extra["records"], 1.0
            )
            self.report["jobs_per_tick"] = {k: got[k]["jobs"] for k in layers}
        else:
            per_q: dict[str, float] = {}
            for i, sp in enumerate(spans):
                if sp.phase == "warm" and sp.label:
                    per_q[sp.label] = per_q.get(sp.label, 0.0) + len(folded.jobs.get(i, [])) / n
            self.report["jobs_per_query"] = per_q
            self.report["most_jobs"] = sorted(per_q, key=lambda q: (-per_q[q], q))[:5]
        # every per-layer name is printed on every workload; the layers and
        # ratios this workload never exercises print 0, named here
        self.report["not_run"] = [x for x in ALL_LAYERS if x not in layers] + [
            k for k in RATIOS if k not in got_ratios(self.args.workload)
        ]
        for k, v in self.end_to_end().items():
            out[f"traced.{k}"] = v
        return out

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": statistics.median(self.setup_times),
            "cold_s": statistics.median(self.cold),
            "warm_ms": statistics.median(self.warm) * 1000.0,
            "warm_geomean_ms": self.warm_geomean_s * 1000.0,
            "peak_rss_mb": self.peak_rss_mb,
        }


def got_ratios(workload: str) -> tuple[str, ...]:
    """The ratios and counts a workload measures."""
    return RATIOS if workload == "log_tail" else ("python.bytes_sent", "python.bytes_received")


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(start: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``start``: a run with a high share was measured on a busy host."""
    delta = [b - a for a, b in zip(start, _cpu_ticks())]
    return delta[7] / max(sum(delta), 1)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("log_tail", "analytics_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke size for the benchmark's tests")
    ap.add_argument("--queries", choices=("bench", "headline"), default="bench",
                    help="headline: all 24 bench.py queries, for the job-count report")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "events") if args.trace else None
    host = pin_host(work, event_dir)
    run = Run(args, work)
    try:
        import_program()
        run.start_sessions()
        if args.workload == "log_tail":
            run.log_tail(TINY if args.size == "tiny" else LOG_TAIL)
        else:
            run.analytics_queries()
        run.read_peak_rss()
        run.stop()
        if args.trace:
            metrics = run.per_layer(event_dir)
        else:
            metrics = run.end_to_end()
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    detail = {"workload": args.workload, "seed": args.seed, **host,
              "warm_units": len(run.warm), "setups": [round(s, 4) for s in run.setup_times],
              "jvm_cold_s": round(run.jvm_cold_s, 4),
              "cold_s": [round(s, 4) for s in run.cold],
              "warm_s": [round(s, 4) for s in run.warm],
              "steal_share": round(steal_share(run.cpu_start), 4), **run.report}
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
