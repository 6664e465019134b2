"""Epoch compaction for the streaming dedup state stores (VERDICT r11
#3): the band state (streaming/neardup_stream.py) and the span-hash
state (streaming/span_dedup_stream.py) write one ``epoch=N`` partition
PER MICRO-BATCH, forever. The KEYS must be remembered forever (an
admitted span/band is admitted for the life of the corpus), but the
PARTITION COUNT need not: at a 1-minute trigger a year of uptime is
~525k partitions — a file-listing cost on every state read and, in
bucketed mode, one metastore partition per batch. The ingest state
table has retention (ingest/pipeline.py) and stats_stream prunes
versions; this module gives the dedup stores the same maintenance
story.

``compact_epoch_state`` folds every epoch older than the newest
``keep_epochs`` batch epochs into ONE consolidated partition at a fresh
NEGATIVE epoch number. Why that is safe:

- **reads**: ``read_band_state``/``read_span_state`` read the whole
  dir/table and only FILTER by epoch; which partition a key lives in
  never affects the anti/semi-join semantics.
- **exclude_epoch**: replays exclude their OWN batch id, and batch ids
  are >= 0 — a negative consolidated epoch is never excluded, so folded
  keys stay visible to every replay. ``keep_epochs`` protects the
  newest batch epochs precisely because those ARE candidate replay
  targets (Structured Streaming replays at most the last uncommitted
  batch; the default keeps 2 for margin): folding a replayable epoch
  would merge its possibly-torn write into the consolidated partition
  where the replay could no longer exclude it.
- **crash at any point**: the consolidated partition is written (and
  committed) BEFORE any input partition is deleted, and the state's
  consumers are duplicate-insensitive (semi/anti joins on the key
  columns), so the only possible inconsistency — keys present in both
  the new partition and not-yet-deleted inputs — is harmless. A re-run
  folds the leftovers (including any previous consolidated partition)
  into the next negative epoch and finishes the deletes. Keys can
  never be LOST: every input survives on disk until the fold that
  covers it has committed.
- **idempotent**: each run targets a FRESH negative epoch (one below
  the minimum existing), so a crashed run's partial output is just
  another input to the next run; ``distinct()`` keeps re-folds from
  accumulating duplicate rows.

Bucketed mode (``buckets=N`` — span and band states; the STATE_SPEC
marker tells the compactor which kind of state lives in the dir) keeps
the CLUSTERED BY layout: fold rows detour through a ``compact_tmp``
parquet dir (breaking lineage from the table being rewritten — Spark refuses
an insert that reads its own target), re-enter via the same
static-partition INSERT OVERWRITE the state writer uses, and the input
partitions are dropped from the metastore and disk afterwards.

Scale: one shuffle-free distinct-aggregate read of the folded epochs
and one write, run as rarely as operations likes (daily against a
1-minute trigger folds 1440 partitions into 1).

Concurrency with a LIVE stream: a micro-batch whose state read was
planned before a fold deletes its input files fails that batch with a
file-not-found — the stream's normal retry re-plans against the
consolidated partition and computes the identical result (the key set
never changed), so the at-least-once contract holds; still, prefer
running compaction between batches (e.g. from the foreachBatch
function itself on a modulo of batch_id, or in a maintenance window)
to avoid the wasted attempt. Reference scope note:
the reference connector keeps its offset state in Connect's compacted
topic (SURVEY §2.8 T3) — compaction-by-the-platform; this module is
the analog for the file-backed dedup state.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kafka_connect_ftp_spark.hadoop_fs import hadoop_fs

_EPOCH_RE = re.compile(r"epoch=(-?\d+)")


def _list_epochs(spark, state_dir: str) -> dict[int, object]:
    """``{epoch: hadoop Path}`` for every ``epoch=N`` subdir."""
    _, fs, hpath = hadoop_fs(spark, state_dir)
    if not fs.exists(hpath):
        return {}
    out = {}
    for st in fs.listStatus(hpath):
        m = _EPOCH_RE.fullmatch(st.getPath().getName())
        if m and st.isDirectory():
            out[int(m.group(1))] = st.getPath()
    return out


def _plan(
    epochs: list[int], keep_epochs: int, max_consolidated: int = 8
) -> tuple[list[int], int] | None:
    """``(inputs, target_epoch)`` or None when there is nothing to gain.

    Inputs = the old NON-negative epochs (everything except the newest
    ``keep_epochs``); negative already-consolidated partitions are only
    re-folded once ``max_consolidated`` of them have accumulated.
    Rationale (review r12): always folding the consolidated partition
    made EVERY fire re-read and rewrite the entire accumulated key set
    — O(total history) recurring per cadence. Leaving consolidated
    partitions alone keeps a fire at O(folded window); they accrue one
    per fire and are squeezed to one every ``max_consolidated``-th fire
    — the full-history rewrite amortized to 1/max_consolidated of
    fires, with the partition count still bounded by
    keep_epochs + max_consolidated. Compaction only pays when it
    removes at least one partition (>= 2 inputs)."""
    protected = set(sorted([e for e in epochs if e >= 0])[-keep_epochs:])
    old_pos = [e for e in epochs if e >= 0 and e not in protected]
    negs = [e for e in epochs if e < 0]
    inputs = sorted(negs + old_pos) if len(negs) >= max_consolidated else sorted(old_pos)
    if len(inputs) < 2:
        return None
    return inputs, min(0, min(epochs)) - 1


def compact_epoch_state(
    spark,
    state_dir: str,
    *,
    keep_epochs: int = 2,
    buckets: int | None = None,
    max_consolidated: int = 8,
) -> dict:
    """Fold old ``epoch=N`` state partitions into one consolidated
    negative-epoch partition (module doc). Returns ``{"folded":
    [...epochs], "target": T}`` (empty ``folded`` = nothing to do).

    ``keep_epochs`` newest non-negative epochs are never folded — they
    are the candidate replay targets whose own-epoch exclusion must
    keep working; must be >= 1 (Structured Streaming can replay the
    last uncommitted batch). ``buckets`` must match the count a
    bucketed state was created with (the BUCKETS marker check).
    ``max_consolidated`` bounds how many negative consolidated
    partitions accrue before they are squeezed to one (_plan doc —
    the O(total-history) vs O(window) amortization)."""
    if keep_epochs < 1:
        raise ValueError(f"keep_epochs must be >= 1, got {keep_epochs}")
    if buckets is not None:
        return _compact_bucketed(
            spark, state_dir, keep_epochs, buckets, max_consolidated
        )

    jvm, fs, hpath = hadoop_fs(spark, state_dir)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(hpath, "BUCKETS")):
        raise ValueError(
            f"state at {state_dir} is BUCKETED — pass buckets=N (plain-"
            "mode compaction would fold raw bucketed files and destroy "
            "the CLUSTERED BY layout the anti-join relies on)"
        )
    by_epoch = _list_epochs(spark, state_dir)
    plan = _plan(list(by_epoch), keep_epochs, max_consolidated)
    if plan is None:
        return {"folded": [], "target": None}
    inputs, target = plan
    in_paths = [by_epoch[e].toString() for e in inputs]
    # schema from the state dir itself (consistent across epochs — the
    # steps write one schema); reading the subdirs directly drops the
    # epoch partition column, which the consolidated rows must not carry
    schema = spark.read.parquet(state_dir).drop("epoch").schema
    folded = spark.read.schema(schema).parquet(*in_paths).distinct()
    # commit the fold BEFORE deleting any input (crash-safety, module
    # doc); mode=overwrite clears a torn previous attempt at this slot
    folded.write.mode("overwrite").parquet(f"{state_dir}/epoch={target}")
    for e in inputs:
        fs.delete(by_epoch[e], True)
    return {"folded": inputs, "target": target}


def maybe_compact(
    spark,
    state_dir: str,
    batch_id: int,
    compact_every: int | None,
    *,
    keep_epochs: int = 2,
    buckets: int | None = None,
) -> dict | None:
    """In-step auto-compaction: the step builders call this AFTER their
    state write, so the fold runs between batches by construction —
    the live-stream race in the module doc cannot occur. Fires every
    ``compact_every``-th batch (None/0 disables); a crash replay
    re-fires it, which is safe because compaction is idempotent and
    ``keep_epochs`` (>= 2 here by default) keeps the replaying batch's
    own epoch and its predecessor unfolded — the own-epoch exclusion
    the replay depends on keeps working."""
    if not compact_every or batch_id % compact_every != compact_every - 1:
        return None
    return compact_epoch_state(
        spark, state_dir, keep_epochs=keep_epochs, buckets=buckets
    )


def _compact_bucketed(
    spark, state_dir: str, keep_epochs: int, buckets: int, max_consolidated: int
) -> dict:
    from kafka_connect_ftp_spark.streaming.bucketed_state import (
        ensure_table,
        load_spec,
    )

    # the STATE_SPEC marker says what kind of state lives here (span
    # hashes, band keys, ...) — the compactor never needs to be told
    spec = load_spec(state_dir)
    if spec is None:
        return {"folded": [], "target": None}
    name = ensure_table(spark, state_dir, buckets, spec)
    data_dir = f"{state_dir}/bucketed"
    by_epoch = _list_epochs(spark, data_dir)
    plan = _plan(list(by_epoch), keep_epochs, max_consolidated)
    if plan is None:
        return {"folded": [], "target": None}
    inputs, target = plan
    # detour through a temp dir OUTSIDE the table's data dir: Spark
    # refuses INSERT from a query that reads the target table, and the
    # temp parquet also pins the fold's content against the in-flight
    # partition drops. NOT dot-prefixed — Hadoop path filtering hides
    # dot-paths even when read as an explicit root ("All paths were
    # ignored"); living beside bucketed/ (not inside) keeps it out of
    # the table's partition discovery
    tmp = f"{state_dir}/compact_tmp"
    jvm, fs, _ = hadoop_fs(spark, state_dir)
    cols = list(spec.col_names)
    spark.table(name).where(
        F.col("epoch").isin(inputs)
    ).select(*cols).distinct().write.mode("overwrite").parquet(tmp)
    view = f"_{name}_compact"
    spark.read.parquet(tmp).repartition(
        buckets, *[F.col(c) for c in spec.bucket_cols]
    ).createOrReplaceTempView(view)
    # same static-partition INSERT OVERWRITE as the state writers:
    # exact one-partition targeting regardless of partitionOverwriteMode
    spark.sql(
        f"INSERT OVERWRITE TABLE {name} PARTITION (epoch={target}) "
        f"SELECT {', '.join(cols)} FROM {view}"
    )
    spark.catalog.dropTempView(view)
    for e in inputs:
        # metastore first, then files: a crash between the two leaves a
        # file-only dir the next MSCK/compaction sweeps up; DROP is
        # metadata-only on this external table so both are needed
        spark.sql(f"ALTER TABLE {name} DROP IF EXISTS PARTITION (epoch={e})")
        fs.delete(by_epoch[e], True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    return {"folded": inputs, "target": target}
