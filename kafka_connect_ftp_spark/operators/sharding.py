"""Training-shard assembly: the last step of a corpus pipeline — write
the cleaned/split/mixed documents out as size-bounded, randomly-ordered,
split-partitioned shards a trainer can stream.

Why an operator: trainers want (a) documents in RANDOM order — adjacent
source documents are correlated, and a sequential scan of them biases
every batch; (b) shards of bounded size for parallel loading; (c) the
train/val/test split as a partition column so a loader mounts exactly
one split. Naive answers break at scale: ``orderBy(rand())`` is a full
global sort with a nondeterministic key (re-running it reshuffles
everything, poisoning resume/caching), and ``repartition(n)`` alone
leaves source-adjacent rows adjacent within partitions.

Design (100 TB):
- the shuffle key is ``xxhash64(salt, id)`` — deterministic (same
  corpus + salt → byte-identical shard contents, so a re-run after a
  crash reproduces the exact layout), uniformly distributed (hash), and
  cheap (one map-side column);
- ``repartition(n_shards, key)`` + ``sortWithinPartitions(key)`` gives
  each shard an internally hash-random order WITHOUT a global sort —
  one shuffle, no driver-side range sampling, no skew (hash keys are
  uniform by construction);
- ``partitionBy(split_col)`` routes rows to split directories during the
  same write; ``maxRecordsPerFile`` bounds individual files so one
  shard never outgrows a loader's memory.

``epoch_salt(salt, epoch)`` derives per-epoch salts: a new epoch is a
new deterministic permutation — the standard reshuffle-per-epoch
without any nondeterministic state to carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def epoch_salt(salt: str, epoch: int) -> str:
    """Per-epoch shuffle salt: same corpus, different deterministic order."""
    return f"{salt}:epoch{epoch}"


def sample_key_col(df: DataFrame, id_col: str):
    """THE canonical shard-routing identity: the id as the exact string
    the wds writer embeds in tar member names — zero-padded ``%012d``
    for integral id columns, plain string cast otherwise.

    One spelling, shared by :func:`shuffled_shards`,
    ``wds.write_wds_shards`` and ``wds.reshard_wds`` (round 10: the
    three writers previously hashed three DIFFERENT forms of the same
    id — raw value, ``cast("string")``, zero-padded read-back key — so
    parquet shards, wds shards, and a same-knob reshard of one corpus
    silently did not correspond). Routing on the sample-key STRING
    makes a reshard of a shard set byte-identical to a direct export
    with the same knobs, because the read-back key IS the routing key."""
    from pyspark.sql.types import IntegralType

    col = F.col(id_col)
    if isinstance(df.schema[id_col].dataType, IntegralType):
        return F.format_string("%012d", col)
    return col.cast("string")


def shuffled_shards(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str = "v1",
    n_shards: int | None = None,
    sort_prefix: tuple[str, ...] = (),
) -> DataFrame:
    """The shuffle half of shard assembly, as a frame: deterministic
    hash-random order, ``n_shards`` hash partitions, internal sort.
    Exposed separately so callers can inspect/compose before writing.

    ``sort_prefix``: columns sorted AHEAD of the shard key. A
    ``partitionBy`` write requires task rows ordered by the partition
    columns; if that ordering isn't already present the file writer
    inserts its own sort and the optimizer drops ours as redundant —
    destroying the hash order (caught by test_order_is_hash_random...).
    Sorting (split, key) ourselves satisfies the writer's requirement,
    so no extra sort is planned and the key stays the secondary order
    within each split.

    Rows route on the canonical :func:`sample_key_col` shared with the
    wds writers."""
    spark = df.sparkSession
    if n_shards is not None and n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if "_shard_key" in df.columns:
        raise ValueError(
            "input already has a '_shard_key' column (this operator's internal "
            "key); rename it upstream — silently overwriting and dropping it "
            "would lose the column from the written shards"
        )
    n = n_shards if n_shards is not None else int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    key = F.xxhash64(F.lit(salt), sample_key_col(df, id_col))
    # id_col as the sort tie-break: equal hash keys (duplicate ids) would
    # otherwise land in nondeterministic relative order across re-runs
    # (shuffle fetch order is arbitrary and the sort is not stable),
    # breaking the byte-identical-rerun guarantee. Determinism therefore
    # holds up to id uniqueness: rows SHARING an id (and NULL ids, which
    # all hash to the same constant) tie — use content-stable unique ids
    # (e.g. ingest/corpus.py's xxhash64(source, text)) for full-strength
    # reproducibility.
    return (
        df.withColumn("_shard_key", key)
        .repartition(n, "_shard_key")
        .sortWithinPartitions(*sort_prefix, "_shard_key", id_col)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    split_col: str | None = "split",
    salt: str = "v1",
    n_shards: int | None = None,
    max_records_per_file: int = 0,
    fmt: str = "parquet",
) -> DataFrame:
    """Write ``df`` as randomly-ordered, split-partitioned shards; returns
    the per-split row counts (one tiny action over the written data, so
    the manifest reflects what actually landed on disk).

    ``split_col=None`` writes unpartitioned shards (e.g. an already
    single-split corpus). AQE note: the explicit ``repartition(n, key)``
    pins the shard count — adaptive coalescing does not merge
    user-specified repartitions, so n_shards is honored exactly."""
    shuffled = shuffled_shards(
        df,
        id_col=id_col,
        salt=salt,
        n_shards=n_shards,
        sort_prefix=(split_col,) if split_col is not None else (),
    )
    # dropping the key is a projection: partitioning and intra-partition
    # order survive into the write
    writer = shuffled.drop("_shard_key").write.mode("overwrite").format(fmt)
    if max_records_per_file > 0:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if split_col is not None:
        writer = writer.partitionBy(split_col)
    writer.save(path)

    written = df.sparkSession.read.format(fmt).load(path)
    group = [split_col] if split_col is not None else []
    if group:
        return written.groupBy(*group).agg(F.count(F.lit(1)).alias("n_rows")).orderBy(*group)
    return written.agg(F.count(F.lit(1)).alias("n_rows"))
