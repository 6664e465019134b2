"""balanced() guard: logical-plan node walk, not plan-string sniffing."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_connect_ftp_spark.session import balanced


def _tiny_parquet(spark, tmp_path, name="t"):
    path = str(tmp_path / name)
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    # single file, single row group -> scan yields 1 partition
    return spark.read.parquet(path)


def test_join_bearing_frame_untouched(spark, tmp_path):
    a = _tiny_parquet(spark, tmp_path, "a")
    b = _tiny_parquet(spark, tmp_path, "b")
    joined = a.join(b, "id")
    assert balanced(joined, spark) is joined


def test_aggregate_and_window_untouched(spark, tmp_path):
    df = _tiny_parquet(spark, tmp_path)
    agg = df.groupBy("id").count()
    assert balanced(agg, spark) is agg
    from pyspark.sql import Window

    win = df.withColumn("rn", F.row_number().over(Window.partitionBy("id").orderBy("id")))
    assert balanced(win, spark) is win


def test_group_family_frames_untouched(spark, tmp_path):
    # applyInPandas compiles to FlatMapGroupsInPandas — a shuffle-governed
    # node the old exact-name allowlist missed; the family-token match
    # must leave it alone instead of stacking a repartition on top
    df = _tiny_parquet(spark, tmp_path)
    out = df.groupBy("id").applyInPandas(lambda p: p, "id long")
    assert balanced(out, spark) is out


def test_shuffle_words_in_column_names_do_not_false_positive(spark, tmp_path):
    # the old string-matching guard saw "Join"/"Sort"/"Window" in the plan
    # text and skipped the rebalance; aliases containing those words must
    # not suppress it
    import pytest

    if spark.sparkContext.defaultParallelism <= 1:
        pytest.skip("needs >1 core: a 1-partition scan already meets the target")
    df = _tiny_parquet(spark, tmp_path).select(
        F.col("id").alias("JoinKey"),
        (F.col("id") * 2).alias("SortOrderWindowValue"),
    )
    out = balanced(df, spark)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_changelog_top1_keeps_windowgrouplimit(spark):
    """The latest-record-per-key plan must compile to WindowGroupLimit
    with a Partial pass — the map-side top-1 that keeps a hot state key
    from funneling all its rows into one reducer (docs/SCALING.md
    hot-key rule). A formulation change that silently loses this (e.g.
    filtering on rank computed in a prior select) would regress the
    state-merge's skew behavior without failing any result check."""
    from kafka_connect_ftp_spark.plans import registry

    df = registry()["changelog_latest_state"].fn(spark, "/root/testdata/sf0.001")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "WindowGroupLimit" in plan
    # the Partial-mode pass is what runs before the shuffle
    assert "Partial" in plan.split("WindowGroupLimit", 1)[1]


def test_already_parallel_scan_untouched(spark, tmp_path):
    path = str(tmp_path / "many")
    target = spark.sparkContext.defaultParallelism
    spark.range(10_000).repartition(target).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    if df.rdd.getNumPartitions() >= target:
        assert balanced(df, spark) is df


def test_connect_fallback_is_untouched_noop(spark):
    # under Spark Connect there is no _jdf handle; balanced() must return
    # the frame unchanged rather than raising (documented in README —
    # "Scale design notes"). Simulated with a minimal stand-in object so
    # the test doesn't need a Connect server.
    class FakeConnectFrame:
        pass  # no _jdf attribute, like pyspark.sql.connect.DataFrame

    fake = FakeConnectFrame()
    assert balanced(fake, spark) is fake


def test_python_workers_reread_no_unchanged_zip(spark):
    """Python workers come from ``worker_daemon``: their zip importers
    skip re-reading an unchanged archive when a task's set-up
    invalidates the import caches (CPython < 3.13, whose zipimport
    re-reads eagerly)."""
    import sys

    import pytest

    if sys.version_info >= (3, 13):
        pytest.skip("zipimport of CPython 3.13+ re-reads lazily")

    def probe(_):
        import importlib
        import zipimport

        wrapped = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [p for p in sys.path if p.endswith((".zip", ".jar"))]
        yield wrapped, reads, zips

    [(wrapped, reads, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert wrapped
    assert zips, "no archive on the worker's path"
    assert reads == []


def test_rewritten_zip_on_path_is_reread(spark, tmp_path):
    """A zip on a worker's ``sys.path`` rewritten with a new module: the
    next ``importlib.invalidate_caches()`` re-reads it and the new
    module imports."""
    archive = str(tmp_path / "mods.zip")

    def probe(_):
        import importlib
        import sys
        import zipfile

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("zmod_first.py", "VALUE = 1\n")
        sys.path.insert(0, archive)
        try:
            importlib.invalidate_caches()
            first = importlib.import_module("zmod_first").VALUE
            # the importer has now read this archive as it stands
            importlib.invalidate_caches()
            with zipfile.ZipFile(archive, "w") as zf:
                zf.writestr("zmod_first.py", "VALUE = 1\n")
                zf.writestr("zmod_second.py", "VALUE = 2\n")
            importlib.invalidate_caches()
            second = importlib.import_module("zmod_second").VALUE
        finally:
            sys.path.remove(archive)
            sys.modules.pop("zmod_first", None)
            sys.modules.pop("zmod_second", None)
        yield first, second

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [(1, 2)]


def test_session_outside_repo_without_pythonpath_runs_python_stage(tmp_path):
    """A driver that imports the package from a path it put on
    ``sys.path`` itself, with another cwd and no ``PYTHONPATH``, still
    gets Python workers: the daemon module must import in them."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from kafka_connect_ftp_spark.session import get_spark\n"
        "spark = get_spark('outside')\n"
        "df = spark.range(4).mapInPandas(lambda it: (p * 2 for p in it), 'id long')\n"
        "print('ids', sorted(r.id for r in df.collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ids [0, 2, 4, 6]" in out.stdout, out.stderr[-3000:]


SF = "/root/testdata/sf0.001"


def _tagged_jobs(spark, fn):
    import uuid

    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return len(jsc.statusTracker().getJobIdsForTag(tag))


def test_load_tables_supplies_the_inferred_schema_and_runs_no_job(spark):
    import os

    from kafka_connect_ftp_spark.session import _footer_schema, load_tables

    names = sorted(f[: -len(".parquet")] for f in os.listdir(SF) if f.endswith(".parquet"))
    assert len(names) == 10
    for name in names:
        path = os.path.join(SF, f"{name}.parquet")
        assert _footer_schema(path)[0] == spark.read.parquet(path).schema, name
    fresh = spark.newSession()
    assert _tagged_jobs(fresh, lambda: load_tables(fresh, SF, *names)) == 0


def test_load_tables_truncates_nanosecond_timestamps(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from kafka_connect_ftp_spark.session import load_tables

    ns = [1_600_000_000_123_456_789, 1_700_000_000_000_001_000, None]
    table = pa.table(
        {"id": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns")), "s": ["a", "b", None]}
    )
    pq.write_table(table, str(tmp_path / "nt.parquet"))
    df = load_tables(spark, str(tmp_path), "nt")["nt"]
    assert df.schema["ts"].dataType == T.TimestampType()
    got = df.orderBy("id").select("id", F.unix_micros("ts").alias("us"), "s").collect()
    assert [tuple(r) for r in got] == [
        (1, 1_600_000_000_123_456, "a"),
        (2, 1_700_000_000_000_001, "b"),
        (3, None, None),
    ]
