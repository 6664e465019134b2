"""Streaming C4-style span dedup: the batch operator's corpus-wide
"keep only the first occurrence of every span" rule applied
incrementally, so a continuously-curated corpus gets the same span-
level boilerplate removal the batch pipeline applies
(operators/span_dedup.py) — previously the streaming curation face had
near-dup + quality + blocklist stages but no span stage, so a stream-
built corpus kept every repeated license block the batch build removed.

Semantics: a span (paragraph/line/sentence — same units, same
glue-preserving sentence splitter, same trailing-whitespace-stripped
dedup key as the batch operator) is kept iff its key was never admitted
by ANY earlier batch and this is its first occurrence (min ``(doc_id,
idx)``) within the current batch. With monotone doc_ids across batches
this equals the batch operator run over the concatenated corpus — the
stream==batch parity the quality gate and near-dup stages already pin.

State is the minimum possible: ONE 8-byte xxhash64 per admitted span,
partitioned ``epoch=N`` per batch exactly like the near-dup band state
(neardup_stream.py), with the same crash-recovery argument: the state
read EXCLUDES the calling batch's own epoch, so a replay recomputes
against exactly the pre-batch state and rewrites sink and state
byte-identically no matter how torn the first attempt was. At 100 TB
the state is (distinct spans ever admitted) longs; pass ``buckets=N``
to store it as an EXTERNAL epoch-partitioned table CLUSTERED BY (h)
(streaming/bucketed_state.py): the per-batch
anti-join then reads the state bucket-aligned with NO state-side
Exchange — only the micro-batch's own (small) span frame shuffles into
bucket alignment, however large the accumulated state grows.

The per-batch epoch PARTITIONS (not the keys) grow without bound at
one per trigger; fold old epochs periodically with
``streaming.state_compaction.compact_epoch_state`` (works on both
plain and bucketed layouts; the replay contract is preserved — that
module's doc carries the argument).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.operators.span_dedup import (
    _SPLITTERS,
    _decode_sentinel,
    span_key,
    span_units,
)


def _ensure_span_table(spark, state_dir: str, buckets: int) -> str:
    """Create-or-re-register the EXTERNAL bucketed span-state table.
    Round 12: thin wrapper over the shared bucketed-state machinery
    (streaming/bucketed_state.py — one implementation of the markers,
    re-registration, and static-partition-overwrite mechanics for the
    span AND band states; measured behaviors documented there)."""
    from kafka_connect_ftp_spark.streaming.bucketed_state import (
        SPAN_SPEC,
        ensure_table,
    )

    return ensure_table(spark, state_dir, buckets, SPAN_SPEC)


def read_span_state(
    spark,
    state_dir: str,
    *,
    exclude_epoch: int | None = None,
    buckets: int | None = None,
) -> DataFrame | None:
    """Read the admitted-span-hash state, or None for the genuine first
    batch. Reading WITH an explicit schema matters for crash recovery:
    a state dir that exists but holds no committed file (crash during
    the very first write left only _temporary) would otherwise raise
    UNABLE_TO_INFER_SCHEMA on every replay — permanently wedging the
    stream — where an explicit schema reads it as empty.

    ``exclude_epoch`` drops the calling batch's own ``epoch=N`` rows: a
    crash DURING that write can leave a torn subset of the batch's span
    hashes visible, and a replay reading them would drop the partially-
    covered documents' own spans as "duplicates" of themselves.

    ``buckets`` switches to the bucketed external table (module doc);
    must match the count the state was created with on every call."""
    from pyspark.errors import AnalysisException

    from kafka_connect_ftp_spark.streaming.bucketed_state import is_bucketed_dir

    if buckets is not None:
        seen = spark.table(_ensure_span_table(spark, state_dir, buckets))
    else:
        if is_bucketed_dir(state_dir):
            raise ValueError(
                f"span state at {state_dir} is BUCKETED — pass buckets=N "
                "(reading its files as plain epoch dirs would miss the "
                "bucketed/ data entirely)"
            )
        try:
            seen = spark.read.schema("h long, epoch integer").parquet(state_dir)
        except AnalysisException as exc:
            # ONLY the genuine first-batch case may proceed stateless;
            # any other read failure (corrupt footer, FS hiccup) must
            # fail the batch, or every span would bypass the cross-batch
            # check and boilerplate already removed upstream would
            # re-enter the corpus
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return None
    if exclude_epoch is not None:
        seen = seen.filter(
            F.col("epoch").isNull() | (F.col("epoch") != exclude_epoch)
        )
    return seen.drop("epoch")


def write_span_state(
    spark,
    admitted: DataFrame,
    state_dir: str,
    epoch: int,
    *,
    buckets: int | None = None,
) -> None:
    """Persist one batch's admitted span hashes under its own epoch —
    OVERWRITE semantics either way, so a crash replay rewrites its own
    epoch idempotently and never touches another batch's.

    Bucketed mode uses a STATIC-partition ``INSERT OVERWRITE ...
    PARTITION (epoch=N)`` — measured: the DataFrameWriter
    ``partitionOverwriteMode=dynamic`` option is NOT honored by
    ``insertInto`` in this Spark build, and the session default is
    STATIC, under which a plain overwrite insert would WIPE every other
    epoch on replay; the explicit partition spec targets exactly one
    partition regardless of that conf — and the view + INSERT run on
    ``admitted``'s OWN session (a foreachBatch clone's temp views are
    invisible to the outer session). Both mechanics live in the shared
    bucketed-state module (round 12)."""
    if buckets is not None:
        from kafka_connect_ftp_spark.streaming.bucketed_state import (
            SPAN_SPEC,
            write_epoch,
        )

        write_epoch(spark, admitted, state_dir, epoch, buckets, SPAN_SPEC)
    else:
        admitted.write.mode("overwrite").parquet(
            f"{state_dir}/epoch={int(epoch)}"
        )


def dedup_spans_micro_batch(
    batch: DataFrame,
    seen_hashes: DataFrame | None,
    *,
    unit: str = "paragraph",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """One batch through the span gate. Returns ``(rebuilt_docs,
    admitted_hashes)``: ``rebuilt_docs`` is the batch with ``text_col``
    rebuilt from surviving spans (byte-exact when nothing was dropped)
    plus ``n_spans``/``n_dropped`` counters; ``admitted_hashes`` is the
    one-column ``h`` frame of span keys this batch admitted (the state
    delta). ``seen_hashes`` is the accumulated state or None for the
    first batch. Exposed separately so tests and batch backfills run
    the exact stream transformation."""
    if unit not in _SPLITTERS:
        raise ValueError(f"unit must be one of {sorted(_SPLITTERS)}, got {unit!r}")
    clash = {"n_spans", "n_dropped"} & (set(batch.columns) - {text_col})
    if clash:
        raise ValueError(f"batch carries reserved column(s) {sorted(clash)}")
    # an at-least-once upstream can deliver one id twice INSIDE a batch;
    # the rebuild groups spans by doc, so two payload variants of one id
    # would merge into one garbled document — deterministic pick first
    # (shared guard; same replay-determinism bar as the near-dup stage)
    from kafka_connect_ftp_spark.streaming.neardup_stream import (
        deterministic_id_pick,
    )

    batch = deterministic_id_pick(batch, id_col)
    sep = _SPLITTERS[unit][1]
    units = span_units(
        batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        unit,
    )
    key = span_key(unit)
    eligible = (F.length(key) >= min_chars) & (F.trim(F.col("span")) != "")
    # metadata-only decision frame (the batch operator's design): only
    # (hash, doc_id, idx) shuffle; the first IN-BATCH occurrence per
    # hash is a min-struct aggregation (map-side combine, no window)
    meta = units.select(
        F.xxhash64(key).alias("h"), "doc_id", "idx", eligible.alias("elig")
    )
    fresh = meta.filter("elig")
    if seen_hashes is not None:
        fresh = fresh.join(seen_hashes, "h", "left_anti")
    winners = (
        fresh.groupBy("h")
        .agg(F.min(F.struct("doc_id", "idx")).alias("w"))
        .select(
            "h",
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.idx").alias("idx"),
            F.lit(True).alias("is_winner"),
        )
    )
    # eager checkpoint at the SHARED node (review r12): winners feeds
    # both the rebuilt batch (via the decided join) and the state delta
    # (admitted hashes); without it each consumer re-executed the
    # whole span-decision chain INCLUDING the span-state read — the
    # steps' downstream checkpoints materialized overlapping plans, so
    # the chain ran twice per micro-batch. Checkpointing here (the one
    # point both outputs hang off) makes this function eager: calling
    # it runs the decision job immediately.
    winners = winners.localCheckpoint(eager=True)
    decided = units.join(
        winners.drop("h"), ["doc_id", "idx"], "left"
    ).withColumn("keep", ~eligible | F.coalesce(F.col("is_winner"), F.lit(False)))
    rebuilt = decided.groupBy("doc_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("idx", "span")))
                ),
                lambda s: s.span,
            ),
        ).alias("_rebuilt_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
    )
    new_text = F.col("_rebuilt_text")
    if unit == "sentence":
        # sentence spans are in escaped form (span_units) — decode so
        # pre-existing control bytes round-trip (batch-operator parity)
        new_text = _decode_sentinel(new_text)
    out = (
        batch.join(
            rebuilt.withColumnRenamed("doc_id", id_col), id_col, "inner"
        )
        .withColumn(text_col, new_text)
        .drop("_rebuilt_text")
    )
    return out, winners.select("h")


def make_span_dedup_step(
    spark,
    out_dir: str,
    state_dir: str,
    *,
    unit: str = "paragraph",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    idempotent: bool = False,
    buckets: int | None = None,
    compact_every: int | None = None,
):
    """Build the foreachBatch function (exposed so tests can drive a
    replayed batch directly — a crash replay IS calling the step again
    with the same (batch, batch_id)). ``idempotent=True`` writes each
    batch to its own ``epoch=N`` partition with overwrite (the
    idempotent_parquet_sink pattern) — combined with the state read
    excluding the own epoch, a replay after a crash at ANY point
    rewrites both the sink epoch and the state epoch byte-identically.
    ``compact_every=N`` folds old state epochs every N-th batch
    (state_compaction.maybe_compact — runs after the state write, so
    never concurrent with this stream's own reads)."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        from kafka_connect_ftp_spark.streaming.state_compaction import (
            maybe_compact,
        )

        seen = read_span_state(
            spark, state_dir, exclude_epoch=batch_id, buckets=buckets
        )
        out, admitted = dedup_spans_micro_batch(
            batch, seen,
            unit=unit, id_col=id_col, text_col=text_col, min_chars=min_chars,
        )
        # winners is checkpointed INSIDE dedup_spans_micro_batch (the
        # shared node), so the sink and state writes below each run
        # only their own cheap tail. out still checkpoints here for
        # the idempotent branch's isEmpty probe + write (two actions)
        out = out.localCheckpoint(eager=True)
        if idempotent:
            if out.isEmpty():
                return
            out.write.mode("overwrite").parquet(f"{out_dir}/epoch={batch_id}")
        else:
            out.write.mode("append").parquet(out_dir)
        # per-epoch overwrite, not a flat append: a replay rewrites its
        # OWN epoch idempotently and read_span_state's exclude_epoch
        # makes a torn first attempt invisible to it (module doc)
        write_span_state(spark, admitted, state_dir, batch_id, buckets=buckets)
        maybe_compact(spark, state_dir, batch_id, compact_every, buckets=buckets)

    return _step


def start_span_dedup(
    stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    unit: str = "paragraph",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    idempotent: bool = False,
    buckets: int | None = None,
    compact_every: int | None = None,
    trigger: str | None = None,
):
    """Wire the step into writeStream.foreachBatch. ``trigger`` is a
    processing-time interval ('5 seconds') or None for as-fast-as-
    possible micro-batches. ``buckets`` passes through to the step: the
    bucketed external span-state table (module doc) is reachable from
    the one-call entry point, not only from hand-wired steps — without
    it, a stream pointed at an existing bucketed state dir fails every
    batch on the BUCKETS-marker check."""
    step = make_span_dedup_step(
        stream.sparkSession, out_dir, state_dir,
        unit=unit, id_col=id_col, text_col=text_col,
        min_chars=min_chars, idempotent=idempotent, buckets=buckets,
        compact_every=compact_every,
    )
    writer = stream.writeStream.foreachBatch(step).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()
