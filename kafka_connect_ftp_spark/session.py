"""SparkSession factory tuned for the local[32] test harness.

At cluster scale the same settings apply except ``master`` and memory come
from the deploy environment; AQE handles runtime re-planning (partition
coalescing, skew-join splitting) so the static ``shuffle.partitions`` value
only sets the upper bound pre-AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

# the directory holding this package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "kafka_connect_ftp_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    UTC session timezone is pinned so timestamp semantics match the DuckDB
    oracle (duckdb timestamps are UTC-naive).

    Python workers are forked from ``worker_daemon`` rather than
    ``pyspark.daemon``: a stock worker re-reads the ``pyspark.zip`` and
    ``spark-core`` jar directories before every task (60–110 ms on
    CPython < 3.13), which is most of a small Python stage's cost. The
    daemon starts before any task's files are on its path, so the
    package's own root is put on the workers' ``PYTHONPATH``; with a
    ``local`` master that is the same directory the driver imported it
    from, whatever the driver's cwd.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces DOWN only — shuffle.partitions is a hard CEILING
        # it can never split past (skew-join splitting covers joins, not
        # aggregates). Measured round 11: a 100x corpus replication drove
        # repetition_profile's aggregate shuffle into spill at 32
        # partitions (183s; 45s at 256) and the scaling slope read a
        # phantom 1.39 superlinear term — AQE starts every shuffle at
        # this count and merges to the advisory size, so big shuffles
        # fan out while small-SF queries coalesce back to a handful of
        # partitions: same results, same plan shapes. 256 chosen by
        # interleaved A/B at both scales: the full x100 win, and within
        # host noise (±5%) of 32 on the sf0.1 bench set, where 1024's
        # per-map 1024-bucket shuffle writes cost a real ~10%. On a
        # real cluster raise it toward executor-count x cores (the
        # same knob, spark.sql.adaptive.coalescePartitions.
        # initialPartitionNum).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "256"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet stores naive timestamp[us]; read as TimestampType
        # (LTZ, pinned UTC above) not TIMESTAMP_NTZ so arithmetic casts
        # (unix seconds, bigint) work and semantics match the DuckDB oracle
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "kafka_connect_ftp_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def balanced(df, spark: SparkSession, *keys: str):
    """Repartition a scan to full parallelism ONLY when it under-splits.

    A fan-out stage (shingle explode, tokenization) needs parallelism
    decoupled from input-file splittability: the driver's testdata is one
    row group per file, so a scan yields 1-3 partitions and a downstream
    explode would serialize on as many cores. At production scale the
    input has many splits and this helper is a no-op — the guard avoids
    paying a gratuitous shuffle exactly where it would hurt (large,
    already-parallel scans).

    Intended for RAW SCANS only: probing partition counts goes through
    ``df.rdd``, which under AQE would EXECUTE any upstream shuffle stages
    just to count partitions. Frames whose plan already contains a
    shuffle-inducing operator are returned untouched (their parallelism
    is governed by ``spark.sql.shuffle.partitions``, not file splits).
    The guard walks the analyzed logical plan's node types — not the plan
    STRING, which would false-positive on column names like "SortKey".

    Classic sessions only: the guard needs the JVM plan handle
    (``df._jdf``); under Spark Connect the frame is returned untouched.
    """
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return df
    stack = [jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if any(tok in name for tok in _SHUFFLE_NODE_TOKENS):
            return df
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


# Logical-plan node-name TOKENS whose presence means parallelism is
# governed by spark.sql.shuffle.partitions (or an explicit repartition),
# not by input file splits — balanced() must not add a shuffle on top of
# these. Matched as substrings of NODE CLASS NAMES (never the rendered
# plan string, which would false-positive on column aliases like
# "SortKey"), so the whole node family is covered: "Join" catches Join,
# AsOfJoin and LateralJoin; "Group" catches the applyInPandas/cogroup
# family (FlatMapGroupsInPandas, FlatMapCoGroupsInPandas, MapGroups, …).
_SHUFFLE_NODE_TOKENS = (
    "Join",
    "Aggregate",
    "Sort",
    "Window",
    "Repartition",
    "Rebalance",
    "Distinct",
    "Deduplicate",
    "Intersect",
    "Except",
    "Group",
)


# One memo for every frame built per session: registry plans, table scans
# and the balanced documents scan. A DataFrame is an immutable plan, and
# eager analysis makes rebuilding a deep one cost 0.1-2 s of driver time;
# a memoized frame still computes from its inputs on every execution.
MEMO_MAX = 256
_MEMO: list = []  # (session object, key, value)


def session_memo(spark: SparkSession, key: tuple, build):
    """The value built for (``spark``, ``key``), from the memo or from
    ``build() -> (value, keep)``, which stores it only when ``keep``.

    Entries hold the session object and match it by identity, so a
    recycled session id never aliases a stale entry; past ``MEMO_MAX``
    the oldest entries go."""
    for s, k, value in _MEMO:
        if s is spark and k == key:
            return value
    value, keep = build()
    if keep:
        _MEMO.append((spark, key, value))
        del _MEMO[:-MEMO_MAX]
    return value


# (path, mtime) -> (Spark schema, nanosecond timestamp columns): one
# footer read per table file version
_FOOTER_CACHE: dict[tuple[str, float], tuple[T.StructType, list[str]]] = {}


def _footer_schema(path: str) -> tuple[T.StructType, list[str]]:
    """The Spark schema of a parquet table, from its footer via pyarrow,
    and its columns stored as TIMESTAMP(NANOS), which Spark's reader
    rejects (PARQUET_TYPE_ILLEGAL); those read as ``LongType``. Handing
    the schema to the reader spares Spark's schema-inference job."""
    key = (path, os.path.getmtime(path))
    hit = _FOOTER_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.types as pt
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = ds.dataset(path, format="parquet").schema
    nano_cols = [f.name for f in schema if pt.is_timestamp(f.type) and f.type.unit == "ns"]
    for c in nano_cols:
        i = schema.get_field_index(c)
        schema = schema.set(i, schema.field(i).with_type(pa.int64()))
    out = (from_arrow_schema(schema, prefer_timestamp_ntz=False), nano_cols)
    _FOOTER_CACHE[key] = out
    if len(_FOOTER_CACHE) > MEMO_MAX:
        _FOOTER_CACHE.pop(next(iter(_FOOTER_CACHE)))
    return out


def _read_table(spark: SparkSession, path: str):
    from pyspark.sql import functions as F

    schema, nano_cols = _footer_schema(path)
    df = spark.read.schema(schema).parquet(path)
    for c in nano_cols:
        # integer div: ns epochs exceed double's 2^53 mantissa
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load testdata parquet tables and register them as temp views.

    Returns a dict name -> DataFrame. Filters/projections on the returned
    frames push down to the parquet scan (verify via ``.explain``).

    The schema comes from the table's footer, so a load runs no Spark
    job. Nanosecond-precision timestamp columns (unsupported by Spark's
    parquet reader) are read as raw INT64 and truncated to microsecond
    TimestampType — same instant the DuckDB oracle sees (test timestamps
    carry no sub-microsecond component). Scan frames are memoized per
    (session, path, mtime); the temp view is re-registered on every
    call, so callers that overwrote the view name see it restored.
    """
    # defensive for sessions not built by get_spark: naive parquet
    # timestamps must surface as TimestampType (see get_spark)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = session_memo(
            spark,
            ("scan", path, os.path.getmtime(path)),
            lambda: (_read_table(spark, path), True),
        )
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
