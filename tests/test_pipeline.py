"""End-to-end PollPipeline tests against a real directory tree mutated
between polls — the local-tree analog of the reference's embedded
FTP server test (EndToEnd.scala:31-59), including restart/recovery from
the persisted state table (SURVEY.md §3.3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.ingest.model import (
    META_ARROW_SCHEMA,
    META_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    glob_free_prefix,
    local_frame,
)
from kafka_connect_ftp_spark.ingest.pipeline import PollPipeline


def write(base, rel, data: bytes, mtime: float):
    p = os.path.join(base, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as fh:
        fh.write(data)
    os.utime(p, (mtime, mtime))


@pytest.fixture
def tree(tmp_path):
    return str(tmp_path / "ftp")


def monitors(base):
    return [
        MonitoredPath(f"{base}/tails/", topic="tails", tail=True),
        MonitoredPath(f"{base}/updates/", topic="updates", tail=False),
    ]


T0 = 1717243200.0  # 2024-06-01 12:00:00 UTC


def state_rows(spark, pipe):
    """The pipeline's committed state as collected Spark rows."""
    return local_frame(spark, STATE_SCHEMA, pipe.load_state()).collect()


def test_poll_cycle_with_restart(spark, tree, tmp_path):
    state_dir = str(tmp_path / "state")
    write(tree, "tails/t0", b"hello ", T0)
    write(tree, "updates/u0", b"v1", T0)

    pipe = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True)
    got0 = {
        (r.topic, r.key_offset, bytes(r.value)) for r in pipe.poll().collect()
    }
    assert got0 == {("tails", 0, b"hello "), ("updates", 0, b"v1")}

    # nothing changed → second poll emits nothing
    assert pipe.poll().count() == 0

    # mutate: append to the tail file, rewrite the update file
    write(tree, "tails/t0", b"hello world", T0 + 60)
    write(tree, "updates/u0", b"v2!", T0 + 60)

    # NEW pipeline instance over the same state dir = process restart
    pipe2 = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True)
    got1 = {
        (r.topic, r.key_offset, bytes(r.value)) for r in pipe2.poll().collect()
    }
    assert got1 == {("tails", 6, b"world"), ("updates", 0, b"v2!")}


def test_state_history_survives_version_pruning(spark, tree, tmp_path):
    # the history outlives the versions it was taken from: four ticks
    # commit v0..v3, retention prunes v0 and v1, and the trail still
    # holds both versions of u0
    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True, keep_history=True)
    pipe.poll()
    write(tree, "updates/u0", b"v2", T0 + 60)
    got = {bytes(r.value) for r in pipe.poll().collect()}
    assert got == {b"v2"}
    for i in range(2):
        write(tree, "updates/u1", b"w%d" % i, T0 + 120 + 60 * i)
        pipe.poll()
    assert sorted(d for d in os.listdir(state_dir) if d.startswith("v")) == ["v2", "v3"]
    hist = pipe.state_history()
    assert hist.filter(hist.path.endswith("updates/u0")).count() == 2


def test_new_file_between_polls(spark, tree, tmp_path):
    state_dir = str(tmp_path / "state")
    write(tree, "tails/t0", b"a", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True)
    pipe.poll()
    write(tree, "tails/t1", b"late arrival", T0 + 1)
    got = {(r.key_name.split("/")[-1], bytes(r.value)) for r in pipe.poll().collect()}
    assert got == {("t1", b"late arrival")}


def test_topic_routing_per_directory(spark, tree, tmp_path):
    write(tree, "tails/a", b"x", T0)
    write(tree, "updates/b", b"y", T0)
    write(tree, "ignored/c", b"z", T0)  # matches no monitor
    pipe = PollPipeline(spark, monitors(tree), str(tmp_path / "state"), drop_empty=True)
    rows = pipe.poll().collect()
    assert {(r.topic, r.key_name.split("/")[-1]) for r in rows} == {
        ("tails", "a"),
        ("updates", "b"),
    }


def test_file_matched_by_two_monitors_is_one_state_row(spark, tree, tmp_path):
    # a record per matching monitor, but one state row per path
    write(tree, "logs/a.log", b"x", T0)
    mons = [
        MonitoredPath(f"{tree}/logs/", topic="all"),
        MonitoredPath(f"{tree}/logs/*.log", topic="logs", tail=True),
    ]
    pipe = PollPipeline(spark, mons, str(tmp_path / "state"))
    assert pipe.poll().count() == 2
    assert pipe.last_metrics["n_tracked_paths"] == 1
    assert pipe.load_state().num_rows == 1
    write(tree, "logs/a.log", b"xy", T0 + 60)
    got = sorted((r.topic, r.key_offset, bytes(r.value)) for r in pipe.poll().collect())
    assert got == [("all", 0, b"xy"), ("logs", 1, b"y")]
    assert pipe.last_metrics["n_tracked_paths"] == 1
    assert pipe.load_state().num_rows == 1


def test_glob_base():
    # one definition (ingest/model.py glob_free_prefix): a
    # trailing-slash base normalizes to the same directory without the
    # slash
    assert glob_free_prefix("/a/b/") == "/a/b"
    assert glob_free_prefix("/a/dir?/path/*.txt") == "/a"
    assert glob_free_prefix("/a/b/file.txt") == "/a/b"


def test_leaf_glob_pushdown_filters_listing(spark, tree, tmp_path):
    # only *.csv files should be listed (the monitors' regex filters the
    # driver's walk of the tree) — others never fetched
    write(tree, "data/a.csv", b"a", T0)
    write(tree, "data/b.txt", b"b", T0)
    write(tree, "data/c.csv", b"c", T0)
    pipe = PollPipeline(
        spark,
        [MonitoredPath(f"{tree}/data/*.csv", topic="csv")],
        str(tmp_path / "state"),
        drop_empty=True,
    )
    got = sorted(r.key_name.split("/")[-1] for r in pipe.poll().collect())
    assert got == ["a.csv", "c.csv"]


def test_state_history_scd2(spark, tree, tmp_path):
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(
        spark,
        [MonitoredPath(f"{tree}/updates/", topic="u")],
        str(tmp_path / "state"),
        drop_empty=True,
        keep_history=True,
    )
    pipe.poll()
    write(tree, "updates/u0", b"v2-longer", T0 + 60)
    pipe.poll()
    hist = sorted((r.size, r.hash) for r in pipe.state_history().collect())
    assert len(hist) == 2 and hist[0][0] == 2 and hist[1][0] == 9
    # hashes are distinct versions of the same path
    assert hist[0][1] != hist[1][1]


@pytest.mark.parametrize("crash", ["before_flip", "after_flip"])
def test_state_history_holds_each_change_once_across_a_crash(
    spark, tree, tmp_path, monkeypatch, crash
):
    """The process dies in the commit, just before or just after the
    CURRENT flip, and a restarted pipeline polls again: the history
    holds each committed change exactly once, and never a version the
    marker has not reached."""
    state_dir = str(tmp_path / "state")
    mons = [MonitoredPath(f"{tree}/updates/", topic="u")]
    write(tree, "updates/u0", b"v1", T0)
    PollPipeline(spark, mons, state_dir, keep_history=True).poll()
    write(tree, "updates/u0", b"v2-longer", T0 + 60)

    flip = PollPipeline._flip

    def crashing_flip(self, version):
        if crash == "after_flip":
            flip(self, version)
        raise RuntimeError("driver lost")

    monkeypatch.setattr(PollPipeline, "_flip", crashing_flip)
    with pytest.raises(RuntimeError, match="driver lost"):
        PollPipeline(spark, mons, state_dir, keep_history=True).poll()
    monkeypatch.undo()

    restarted = PollPipeline(spark, mons, state_dir, keep_history=True)
    sizes = sorted(r.size for r in restarted.state_history().collect())
    assert sizes == ([2] if crash == "before_flip" else [2, 9])
    restarted.poll()
    restarted.poll()
    hist = sorted((r.size, r.hash) for r in restarted.state_history().collect())
    assert [size for size, _ in hist] == [2, 9]
    assert hist[0][1] != hist[1][1]


def test_sink_failure_leaves_state_uncommitted(spark, tree, tmp_path):
    """At-least-once (T5): delivery happens BEFORE the state commit, so a
    sink crash leaves the state table un-advanced and the next poll
    re-emits the same delta — Connect's offsets-after-produce ordering."""
    write(tree, "updates/u0", b"payload", T0)
    pipe = PollPipeline(
        spark, [MonitoredPath(f"{tree}/updates/", topic="u")],
        str(tmp_path / "state"), drop_empty=True,
    )

    def exploding_sink(records, epoch):
        raise RuntimeError("broker down")

    with pytest.raises(RuntimeError):
        pipe.poll(sink=exploding_sink)
    # state not advanced: the retry tick re-emits the record
    delivered = []
    pipe.poll(sink=lambda df, epoch: delivered.extend(df.collect()))
    assert [bytes(r.value) for r in delivered] == [b"payload"]
    # now committed: a further tick emits nothing
    assert pipe.poll().count() == 0


def test_sink_runs_before_state_commit(spark, tree, tmp_path):
    write(tree, "updates/u0", b"x", T0)
    state_dir = str(tmp_path / "state")
    pipe = PollPipeline(
        spark, [MonitoredPath(f"{tree}/updates/", topic="u")],
        state_dir, drop_empty=True,
    )
    versions_at_sink_time = []

    def observing_sink(records, epoch):
        records.count()
        versions_at_sink_time.append(os.path.exists(os.path.join(state_dir, "CURRENT")))

    pipe.poll(sink=observing_sink)
    assert versions_at_sink_time == [False]  # sink saw the world pre-commit
    assert os.path.exists(os.path.join(state_dir, "CURRENT"))  # committed after


def test_idempotent_sink_replay_no_duplicates(spark, tree, tmp_path):
    from kafka_connect_ftp_spark.streaming.ingest_stream import idempotent_parquet_sink

    out = str(tmp_path / "out")
    sink = idempotent_parquet_sink(out)
    write(tree, "updates/u0", b"data", T0)
    pipe = PollPipeline(
        spark, [MonitoredPath(f"{tree}/updates/", topic="u")],
        str(tmp_path / "state"), drop_empty=True,
    )
    records = pipe.poll()
    sink(records, 7)
    sink(records, 7)  # crash-replay of the same epoch
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and bytes(got[0].value) == b"data"
    # replay AFTER the state commit succeeded: the re-derived delta is
    # empty — the sink must keep the originally delivered rows, not
    # overwrite the epoch partition with nothing
    sink(pipe.poll(), 7)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and bytes(got[0].value) == b"data"


def test_state_version_retention_prunes_old_dirs(spark, tree, tmp_path):
    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir, keep_versions=2)

    for i in range(4):  # commits v0..v3
        write(tree, "updates/u0", b"v%d" % i, T0 + 60 * i)
        pipe.poll()

    versions = sorted(d for d in os.listdir(state_dir) if d.startswith("v"))
    assert versions == ["v2", "v3"]
    with open(os.path.join(state_dir, "CURRENT")) as fh:
        assert fh.read().strip() == "v3"
    # the surviving current version still loads and drives change detection
    assert pipe.load_state().num_rows == 1
    assert pipe.poll().count() == 0  # nothing changed


def test_poll_metrics_per_tick(spark, tree, tmp_path):
    state_dir = str(tmp_path / "state")
    write(tree, "tails/t0", b"hello ", T0)
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir)
    assert pipe.last_metrics is None

    pipe.poll(epoch=7)
    m = pipe.last_metrics
    assert m["epoch"] == 7
    assert m["n_records"] == 2 and m["n_changed"] == 2
    assert m["bytes_emitted"] == len(b"hello ") + len(b"v1")
    assert m["n_tracked_paths"] == 2
    assert m["wall_seconds"] > 0

    # unchanged tick: no changed records, paths still tracked
    pipe.poll(epoch=8)
    m = pipe.last_metrics
    assert m["epoch"] == 8 and m["n_changed"] == 0 and m["bytes_emitted"] == 0
    assert m["n_tracked_paths"] == 2


def test_idle_poll_commits_no_state_version(spark, tree, tmp_path):
    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir)
    pipe.poll()
    before = sorted(os.listdir(state_dir))
    assert pipe.poll().count() == 0
    assert sorted(os.listdir(state_dir)) == before
    assert pipe.last_metrics["n_tracked_paths"] == 1
    # a restarted pipeline whose first tick is idle counts the state
    pipe2 = PollPipeline(spark, monitors(tree), state_dir)
    assert pipe2.poll().count() == 0
    assert sorted(os.listdir(state_dir)) == before
    assert pipe2.last_metrics["n_tracked_paths"] == 1


def test_poll_reads_only_changed_bytes(spark, tree, tmp_path):
    """Review 9b: per-tick read volume must be proportional to the
    DELTA, not the corpus — an unchanged file made UNREADABLE after the
    first poll must not break (or be opened by) the next polls."""
    import os as _os

    state_dir = str(tmp_path / "state")
    write(tree, "updates/stable", b"big stable body", T0)
    write(tree, "updates/hot", b"v1", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True)
    assert pipe.poll().count() == 2

    # unchanged file becomes unreadable: the eager listing would fail
    # here (binaryFile reads every matched file's bytes per scan)
    stable = _os.path.join(str(tree), "updates", "stable")
    _os.chmod(stable, 0o000)
    try:
        write(tree, "updates/hot", b"v2!", T0 + 60)
        got = {
            (r.topic, bytes(r.value)) for r in pipe.poll().collect()
        }
        assert got == {("updates", b"v2!")}
        # idle tick over the still-unreadable tree
        assert pipe.poll().count() == 0
    finally:
        _os.chmod(stable, 0o644)


def test_local_listing_matches_binary_file_scan(spark, tree, tmp_path):
    """The driver walk lists exactly the (path, size, modification_time)
    rows of a recursive ``binaryFile`` scan of the same roots — Spark's
    hidden-name rule (``.``/``_`` prefixes unless ``_k=v``, in-flight
    ``._COPYING_`` files, hidden dirs not descended) and ms mtimes — and
    a missing root lists as empty."""
    from kafka_connect_ftp_spark.ingest.pipeline import LocalTree

    names = [
        "a.csv", ".h.csv", "_u.csv", "_k=v.csv", "k=v.csv", "f.csv._COPYING_",
        ".hd/x.csv", "_ud/y.csv", "d/z.csv", "d/e/w.csv", "d/_s.csv", "_k=v/q.csv",
    ]
    for i, rel in enumerate(names):
        write(tree, rel, b"x" * (i + 1), T0 + i)
    # sub-ms mtime precision must truncate, not round
    os.utime(os.path.join(tree, "a.csv"), ns=(0, int(T0 * 1e9) + 987_654_321))
    monitors = [
        MonitoredPath(f"{tree}/**", topic="all"),
        MonitoredPath(f"{tmp_path}/missing/", topic="none"),
    ]

    listing = LocalTree().listing(spark, monitors)
    assert listing.schema == META_ARROW_SCHEMA
    got = local_frame(spark, META_SCHEMA, listing)
    oracle = (
        spark.read.format("binaryFile").option("recursiveFileLookup", "true").load([tree])
        .select(
            F.regexp_replace("path", "^file:", "").alias("path"),
            F.col("length").alias("size"),
            F.col("modificationTime").alias("modification_time"),
        )
    )
    want = sorted(oracle.collect())
    assert sorted(got.collect()) == want
    listed = sorted(os.path.relpath(r.path, tree) for r in want)
    assert listed == ["_k=v.csv", "_k=v/q.csv", "a.csv", "d/e/w.csv", "d/z.csv", "k=v.csv"]


def _jobs(spark, fn):
    """Spark jobs ``fn`` runs, threads it starts included (they inherit
    the job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_poll_job_budget(spark, tree, tmp_path):
    """A tick's Spark jobs: the listing is a driver walk and change
    detection runs on the driver against the held state; one action
    materializes the fetch and collects its counts and state updates,
    the sink delivers; the state version is written on the driver. An
    idle tick, also the first tick of a pipeline restarted over an
    unchanged tree, runs no job at all."""
    from kafka_connect_ftp_spark.streaming.ingest_stream import idempotent_parquet_sink

    for i in range(6):
        write(tree, f"tails/t{i}", b"line %d\n" % i, T0)
        write(tree, f"updates/u{i}", b"v%d" % i, T0)
    state_dir = str(tmp_path / "state")
    pipe = PollPipeline(spark, monitors(tree), state_dir)
    sink = idempotent_parquet_sink(str(tmp_path / "out"))

    backfill = _jobs(spark, lambda: pipe.poll(sink=sink, epoch=0))
    write(tree, "tails/t0", b"line 0\nline 0b\n", T0 + 60)
    write(tree, "updates/u1", b"v1!", T0 + 60)
    write(tree, "updates/new", b"n", T0 + 60)
    changes = _jobs(spark, lambda: pipe.poll(sink=sink, epoch=1))
    idle = _jobs(spark, lambda: pipe.poll(sink=sink, epoch=2))
    assert pipe.last_metrics["n_tracked_paths"] == 13

    restarted = PollPipeline(spark, monitors(tree), state_dir)
    restart = _jobs(spark, lambda: restarted.poll(sink=sink, epoch=3))
    assert restarted.last_metrics["n_tracked_paths"] == 13

    print(f"jobs per tick: backfill {backfill}, changes {changes}, idle {idle}, restart {restart}")
    assert backfill <= 2
    assert changes <= 2
    assert idle == 0
    assert restart == 0


def _busy_pipeline(spark, tree, tmp_path):
    """A pipeline over 12 files, backfilled, and a function that changes
    three of them (a tail append, an update, a new file) per call."""
    for i in range(6):
        write(tree, f"tails/t{i}", b"line %d\n" % i, T0)
        write(tree, f"updates/u{i}", b"v%d" % i, T0)
    pipe = PollPipeline(spark, monitors(tree), str(tmp_path / "state"))
    pipe.poll()
    n = [0]

    def churn():
        n[0] += 1
        t = T0 + 60 * n[0]
        write(tree, "tails/t0", b"line 0\n" + b"more\n" * n[0], t)
        write(tree, "updates/u1", b"v1" + b"!" * n[0], t)
        write(tree, f"updates/new{n[0]}", b"n", t)

    return pipe, churn


# py4j round trips of this test's warm tick, sink included: ~145
# measured with change detection on the driver (~180 when Spark joined
# the listing with the state; 290-370 when a Spark job wrote the state;
# 1,740-1,860 when every tick also built its Column expressions afresh)
_WARM_POLL_ROUND_TRIPS = 360


def test_warm_poll_py4j_round_trips(spark, tree, tmp_path, monkeypatch):
    """A warm tick's driver-to-JVM round trips stay few: the tick's
    Column expressions are built once per pipeline, not per tick (each
    Column call is a round trip plus PySpark's call-site capture)."""
    import gc
    import time

    from kafka_connect_ftp_spark.streaming.ingest_stream import idempotent_parquet_sink
    from py4j.clientserver import ClientServerConnection

    pipe, churn = _busy_pipeline(spark, tree, tmp_path)
    sink = idempotent_parquet_sink(str(tmp_path / "out"))
    churn()
    pipe.poll(sink=sink, epoch=1)

    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls.append(1)
        return send(self, command)

    churn()
    # proxies of earlier ticks (and tests) freed now, not as deletes
    # inside the count: py4j sends a freed proxy's delete from a worker
    # thread, so wait for its queue to drain
    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    deadline = time.monotonic() + 30
    while client.finalizer_deque and time.monotonic() < deadline:
        time.sleep(0.01)
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    pipe.poll(sink=sink, epoch=2)
    monkeypatch.undo()
    assert pipe.last_metrics["n_changed"] == 3
    print(f"py4j round trips of a warm tick: {len(calls)}")
    assert 0 < len(calls) <= _WARM_POLL_ROUND_TRIPS


def test_warm_tick_builds_no_tick_expressions(spark, tree, tmp_path, monkeypatch):
    """Ticks with the same ``now`` (the default clock among them) reuse
    the pipeline's Column expressions; a pinned ``now`` that changes
    builds them once for the new value."""
    import importlib

    snapshot_mod = importlib.import_module("kafka_connect_ftp_spark.ingest.snapshot")
    pipe, churn = _busy_pipeline(spark, tree, tmp_path)
    churn()
    pipe.poll()

    built = []
    init = snapshot_mod.TickExprs.__init__

    def counted(self, *args, **kwargs):
        built.append(kwargs.get("now"))
        init(self, *args, **kwargs)

    monkeypatch.setattr(snapshot_mod.TickExprs, "__init__", counted)
    churn()
    assert pipe.poll().count() == 3
    assert pipe.poll().count() == 0
    assert built == []
    churn()
    assert pipe.poll(now="2024-06-01 13:00:00").count() == 3
    churn()
    assert pipe.poll(now="2024-06-01 13:00:00").count() == 3
    assert built == ["2024-06-01 13:00:00"]


@pytest.mark.parametrize("max_files", [None, 2])
def test_sink_failure_during_state_write_commits_nothing(spark, tree, tmp_path, max_files):
    """The sink raises after the next state version was written: the
    marker stays, the tracked-path gauge stays, and the retry tick
    re-emits the same records and commits its own write of that version
    over the orphan — also when the tick is capped (``max_files``) to
    exactly the changed files."""
    import time

    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    write(tree, "updates/u1", b"w1", T0)
    pipe = PollPipeline(
        spark, [MonitoredPath(f"{tree}/updates/", topic="u")], state_dir,
        drop_empty=True, max_files_per_poll=max_files,
    )
    pipe.poll(now="2024-06-01 12:00:00")
    marker = os.path.join(state_dir, "CURRENT")
    with open(marker) as fh:
        committed = fh.read()
    before = sorted(state_rows(spark, pipe))
    assert pipe.last_metrics["n_tracked_paths"] == 2

    write(tree, "updates/u0", b"v2!", T0 + 60)
    write(tree, "updates/u2", b"new", T0 + 60)
    orphan = os.path.join(state_dir, "v1")
    seen = []

    def failing_sink(records, epoch):
        seen.extend(sorted((r.key_name, bytes(r.value)) for r in records.collect()))
        deadline = time.monotonic() + 30
        while not os.path.exists(orphan) and time.monotonic() < deadline:
            time.sleep(0.01)
        assert os.path.exists(orphan)  # the version is written
        raise RuntimeError("broker down")

    with pytest.raises(RuntimeError, match="broker down"):
        pipe.poll(sink=failing_sink, epoch=1, now="2024-06-01 12:01:00")
    with open(marker) as fh:
        assert fh.read() == committed
    assert sorted(state_rows(spark, pipe)) == before
    assert pipe.last_metrics["n_tracked_paths"] == 2

    delivered = []
    pipe.poll(
        sink=lambda df, epoch: delivered.extend(
            sorted((r.key_name, bytes(r.value)) for r in df.collect())
        ),
        epoch=1, now="2024-06-01 12:02:00",
    )
    assert delivered == seen and [v for _, v in delivered] == [b"v2!", b"new"]
    assert pipe.last_metrics["n_tracked_paths"] == 3
    with open(marker) as fh:
        assert fh.read().split("\n")[0] == "v1"
    # the current v1 is the retry's write, not the failed tick's
    state = {r.path.rsplit("/", 1)[-1]: r for r in state_rows(spark, pipe)}
    assert sorted(state) == ["u0", "u1", "u2"]
    assert str(state["u0"].last_inspected) == "2024-06-01 12:02:00"
    assert pipe.poll().count() == 0


def test_state_write_failure_delivers_and_commits_nothing(spark, tree, tmp_path, monkeypatch):
    """The driver's write of the next state version raises: the sink is
    never called, the marker, the held state and the tracked-path gauge
    stay, and the next tick re-derives and delivers the same delta."""
    import pyarrow.parquet as pq

    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(
        spark, [MonitoredPath(f"{tree}/updates/", topic="u")], state_dir,
        drop_empty=True,
    )
    pipe.poll()
    marker = os.path.join(state_dir, "CURRENT")
    with open(marker) as fh:
        committed = fh.read()
    held = pipe._state
    assert pipe.last_metrics["n_tracked_paths"] == 1

    write(tree, "updates/u0", b"v2!", T0 + 60)
    write(tree, "updates/u1", b"new", T0 + 60)
    called = []

    def failing_write(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", failing_write)
    with pytest.raises(OSError, match="disk full"):
        pipe.poll(sink=lambda df, epoch: called.append(epoch), epoch=1)
    monkeypatch.undo()
    assert called == []
    with open(marker) as fh:
        assert fh.read() == committed
    assert pipe._state is held
    assert pipe.last_metrics["n_tracked_paths"] == 1

    delivered = []
    pipe.poll(
        sink=lambda df, epoch: delivered.extend(
            sorted((r.key_name.rsplit("/", 1)[-1], bytes(r.value)) for r in df.collect())
        ),
        epoch=1,
    )
    assert delivered == [("u0", b"v2!"), ("u1", b"new")]
    assert pipe.last_metrics["n_tracked_paths"] == 2
    assert pipe.poll().count() == 0
