"""End-to-end PollPipeline tests against a real directory tree mutated
between polls — the binaryFile-source analog of the reference's embedded
FTP server test (EndToEnd.scala:31-59), including restart/recovery from
the persisted state table (SURVEY.md §3.3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.ingest.model import MonitoredPath, glob_free_prefix
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


def test_bucketed_state_poll_cycle_and_shuffle_elision(spark, tree, tmp_path):
    state_dir = str(tmp_path / "state")
    write(tree, "tails/t0", b"hello ", T0)
    write(tree, "updates/u0", b"v1", T0)

    pipe = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True, bucket_state=4)
    got0 = {(r.topic, r.key_offset, bytes(r.value)) for r in pipe.poll().collect()}
    assert got0 == {("tails", 0, b"hello "), ("updates", 0, b"v1")}

    write(tree, "tails/t0", b"hello world", T0 + 60)
    # restart: a fresh pipeline recovers state from the bucketed table
    pipe2 = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True, bucket_state=4)
    got1 = {(r.topic, r.key_offset, bytes(r.value)) for r in pipe2.poll().collect()}
    assert got1 == {("tails", 6, b"world")}

    # superseded version tables are dropped; exactly one current version
    live = [t.name for t in spark.catalog.listTables() if t.name.startswith("ftp_state_")]
    assert live == [pipe2._table_name("v1")]

    # the point of bucketing: joining on path reads the state side
    # bucket-aligned with NO Exchange (only the probe side shuffles) —
    # in the SMJ regime a real deployment is in, not the broadcast
    # regime this test's table sizes would pick
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        state = pipe2.load_state()
        probe = spark.createDataFrame([(p.path,) for p in state.select("path").collect()], "k string")
        plan = (
            probe.join(state, probe["k"] == state["path"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan
        assert plan.count("Exchange") == 1  # probe side only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {pipe2._table_name('v1')}")


def test_bucketed_state_with_history_survives_version_drop(spark, tree, tmp_path):
    # regression: the history write used to re-evaluate new_state's
    # pre-commit lineage, whose carried branch read the version table the
    # commit had just dropped → FILE_NOT_EXIST on every tick after the
    # first; history now reads back the committed version
    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(
        spark, monitors(tree), state_dir, drop_empty=True,
        bucket_state=4, keep_history=True,
    )
    try:
        pipe.poll()
        write(tree, "updates/u0", b"v2", T0 + 60)
        got = {bytes(r.value) for r in pipe.poll().collect()}
        assert got == {b"v2"}
        hist = pipe.state_history()
        assert hist.filter(hist.path.endswith("updates/u0")).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {pipe._table_name('v1')}")


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


def test_glob_base():
    # one definition (ingest/model.py glob_free_prefix): a
    # trailing-slash base normalizes to the same directory without the
    # slash
    assert glob_free_prefix("/a/b/") == "/a/b"
    assert glob_free_prefix("/a/dir?/path/*.txt") == "/a"
    assert glob_free_prefix("/a/b/file.txt") == "/a/b"


def test_leaf_glob_pushdown_filters_listing(spark, tree, tmp_path):
    # only *.csv files should be listed (the monitors' regex filters the
    # binaryFile listing) — others never fetched
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
    assert pipe.load_state().count() == 1
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


def test_bucketed_state_survives_catalog_loss(spark, tree, tmp_path):
    """Review 9b (empirically reproduced brick): the bucketed state must
    be loadable by a NEW session whose in-memory catalog is empty — the
    table is external (data under state_dir) and load_state
    re-registers it with the bucket count the MARKER recorded, so a
    caller constructing with a different N cannot mis-bucket the join."""
    state_dir = str(tmp_path / "state")
    write(tree, "updates/u0", b"v1", T0)
    pipe = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True, bucket_state=4)
    assert pipe.poll().count() == 1

    # simulate a fresh session: catalog entry gone, files intact
    spark.sql(f"DROP TABLE IF EXISTS {pipe._table_name('v0')}")
    # new pipeline, DIFFERENT (wrong) bucket count in the constructor —
    # the marker's recorded count must win for the existing version
    pipe2 = PollPipeline(spark, monitors(tree), state_dir, drop_empty=True, bucket_state=8)
    state = pipe2.load_state()
    assert {r.path.rsplit("/", 1)[-1] for r in state.collect()} == {"u0"}
    # and the re-registered table carries the WRITTEN bucket spec
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {pipe2._table_name('v0')}").collect()
    buckets = [r.data_type for r in desc if r.col_name == "Num Buckets"]
    assert buckets == ["4"], desc

    try:
        # the poll cycle continues: nothing changed -> empty tick, then
        # a mutation is picked up incrementally
        assert pipe2.poll().count() == 0
        write(tree, "updates/u0", b"v2!", T0 + 60)
        got = {(r.topic, bytes(r.value)) for r in pipe2.poll().collect()}
        assert got == {("updates", b"v2!")}
    finally:
        # shared-session catalog hygiene: sibling tests assert over
        # listTables(); drop everything this state_dir registered
        prefix = pipe2._table_name("v").rstrip("v")
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_quoted_state_dir_rejected(spark, tmp_path):
    """ADVICE r9: a state_dir containing a single quote would reach the
    bucketed restart's CREATE TABLE ... LOCATION f-string and die with
    an opaque SQL parse error — reject it at construction instead."""
    bad = str(tmp_path / "it's-state")
    with pytest.raises(ValueError, match="single quote"):
        PollPipeline(spark, monitors(str(tmp_path)), bad)
