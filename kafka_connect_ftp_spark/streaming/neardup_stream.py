"""Streaming NEAR-duplicate filtering: the batch MinHash+LSH dedup
family applied incrementally, so a continuously-arriving corpus admits
only documents that are near-duplicates of NOTHING admitted before —
without ever rescanning the accumulated corpus text.

Semantics per micro-batch (all via the batch operators, so stream and
batch agree definitionally):

1. sketch the batch (``minhash_signatures`` — one signature row per
   document; the text itself never shuffles and never persists beyond
   the sink write);
2. drop documents whose banded LSH keys (``band_signatures`` — the SAME
   banding as ``lsh_candidate_pairs``) collide with the state table of
   previously-ADMITTED documents' keys;
3. dedup the survivors WITHIN the batch exactly as batch mode would:
   ``lsh_candidate_pairs`` + ``dedup_decision`` (keep = min doc_id per
   connected candidate component);
4. append the admitted documents to the sink and their band keys to the
   state table.

State = (band, bsig) keys of admitted documents only — ~n_bands rows
per ADMITTED doc, the same footprint the batch pipeline's LSH stage
shuffles, and strictly smaller than storing signatures (a band key is
one long). Default layout: epoch-partitioned parquet (one
overwrite-able dir per micro-batch — crash-torn writes are
replay-invisible, see ``read_band_state``) re-read per batch —
stream-static join, re-planned every micro-batch, Spark's documented
pattern for slowly-growing side state. At 100 TB pass ``buckets=N``
(round 12): the state becomes an EXTERNAL epoch-partitioned table
CLUSTERED BY (band, bsig) (streaming/bucketed_state.py — the span
state's round-11 machinery, shared), so the per-batch collision
semi-join reads the state bucket-aligned with NO state-side Exchange
and per-batch cost is bounded by the batch, not by history. Epoch PARTITIONS accrue one per trigger;
fold old ones periodically with
``streaming.state_compaction.compact_epoch_state`` (key set preserved
exactly, replay contract intact — that module's doc has the argument).

Delivery: at-least-once, like every foreachBatch sink here — a crash
between the sink append and the state append re-admits that batch's
documents on replay (never loses one). Wrap the sink write with
``idempotent_parquet_sink`` (streaming/ingest_stream.py) for
effectively-once output.

Approximation boundary (inherited from LSH itself, not the streaming
form): two near-duplicates that share NO band signature are both
admitted — the standard (1/bands)^(1/rows_per_band) threshold curve.
Additionally, order matters exactly as in any online dedup: the FIRST
arrival of a duplicate group is the one admitted, whereas batch mode
keeps the min doc_id; on id-ordered input the two coincide (what the
parity test pins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.operators.dedup_cluster import dedup_decision
from kafka_connect_ftp_spark.operators.text_dedup import (
    band_signatures,
    lsh_candidate_pairs,
    minhash_signatures,
)


def deterministic_id_pick(batch: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """In-batch re-delivery guard (review 9b): an at-least-once upstream
    can deliver the same id twice INSIDE one micro-batch; per-id state
    only covers CROSS-batch re-delivery. The pick must be
    DETERMINISTIC: dropDuplicates keeps an arbitrary row, so a crash
    replay of the same batch could sign/deliver a different payload
    variant than the first attempt. Order by a row content hash and
    keep the minimum — same id + different payloads is upstream
    corruption, but the stream's replay-determinism invariant holds.
    Round 11 (review r10): to_json rejects some column types (e.g.
    MapType with non-string keys) at ANALYSIS time, and this guard
    must never make a schema unstreamable that round 9 accepted —
    the hash covers only the to_json-serializable columns (always
    including id/text). Round 12 (VERDICT r11 #5): rows differing ONLY
    in a non-serializable column no longer fall to an arbitrary pick —
    each such column is folded in as a SECONDARY order key after being
    rewritten into an orderable shape (maps become entry arrays sorted
    by key, recursively, so two semantically-equal maps built in
    different orders compare equal regardless of physical encoding;
    arrays/structs recurse in place). Only UDT and Variant columns —
    which Spark can neither serialize, hash, nor order — remain outside
    the key; rows differing ONLY there still get an arbitrary-but-
    single pick (row_number keeps exactly one), documented residue.
    Shared by the near-dup and span-dedup stages (both group by id
    downstream)."""
    from pyspark.sql import Window as _W
    from pyspark.sql import types as _T

    def _json_safe(dt) -> bool:
        if isinstance(dt, _T.ArrayType):
            return _json_safe(dt.elementType)
        if isinstance(dt, _T.StructType):
            return all(_json_safe(f.dataType) for f in dt.fields)
        if isinstance(dt, _T.MapType):
            return isinstance(dt.keyType, _T.StringType) and _json_safe(dt.valueType)
        if isinstance(dt, (_T.UserDefinedType, _T.VariantType)):
            return False
        return True  # atomic types (incl. binary -> base64)

    def _orderable(dt) -> bool:
        # can _as_orderable rewrite this type into one Spark can sort?
        if isinstance(dt, _T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, _T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        if isinstance(dt, _T.MapType):
            return _orderable(dt.keyType) and _orderable(dt.valueType)
        return not isinstance(dt, (_T.UserDefinedType, _T.VariantType))

    def _as_orderable(c, dt):
        if isinstance(dt, _T.MapType):
            # sorted entry array: deterministic whatever the map's
            # physical entry order (array_sort on struct compares the
            # key field first; map keys are unique, so ties never reach
            # the value)
            return F.array_sort(
                F.transform(
                    F.map_entries(c),
                    lambda e: F.struct(
                        _as_orderable(e.key, dt.keyType).alias("k"),
                        _as_orderable(e.value, dt.valueType).alias("v"),
                    ),
                )
            )
        if isinstance(dt, _T.ArrayType):
            return F.transform(c, lambda x: _as_orderable(x, dt.elementType))
        if isinstance(dt, _T.StructType):
            return F.struct(
                *[
                    _as_orderable(c[f.name], f.dataType).alias(f.name)
                    for f in dt.fields
                ]
            )
        return c

    hashable = [f.name for f in batch.schema.fields if _json_safe(f.dataType)]
    _row_h = (
        F.sha2(F.to_json(F.struct(*[F.col(c) for c in hashable])), 256)
        if hashable
        else F.lit("")
    )
    extra_keys = [
        _as_orderable(F.col(f.name), f.dataType)
        for f in batch.schema.fields
        if not _json_safe(f.dataType) and _orderable(f.dataType)
    ]
    _w_dedup = _W.partitionBy(id_col).orderBy(_row_h, *extra_keys)
    return (
        batch.withColumn("_ndg_rn", F.row_number().over(_w_dedup))
        .filter(F.col("_ndg_rn") == 1)
        .drop("_ndg_rn")
    )


def filter_micro_batch(
    batch: DataFrame,
    seen_bands: DataFrame | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_width: int = 8,
    band_size: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """One batch through the near-dup gate. Returns ``(admitted_docs,
    admitted_band_keys)``; ``seen_bands`` is the accumulated (band,
    bsig) state or None for the first batch. Exposed separately so
    tests and batch backfills run the exact stream transformation."""
    # the signature groupBy collapses duplicate ids to one keep
    # decision, but the final left_semi would admit every copy of an
    # admitted id — guard first (docstring above)
    batch = deterministic_id_pick(batch, id_col)
    sig = minhash_signatures(
        batch, id_col, text_col, n_hashes=n_hashes, shingle_width=shingle_width
    )
    bands = band_signatures(sig, band_size=band_size)
    if seen_bands is not None:
        collided = (
            bands.join(seen_bands, ["band", "bsig"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        fresh_ids = (
            sig.select("doc_id")
            .join(collided, "doc_id", "left_anti")
        )
    else:
        fresh_ids = sig.select("doc_id")
    fresh_sig = sig.join(F.broadcast(fresh_ids), "doc_id", "left_semi")
    pairs = lsh_candidate_pairs(fresh_sig, band_size=band_size)
    keep_ids = (
        dedup_decision(pairs, fresh_sig.select("doc_id"))
        .filter("keep")
        .select("doc_id")
    )
    admitted = batch.join(
        F.broadcast(keep_ids.withColumnRenamed("doc_id", id_col)), id_col, "left_semi"
    )
    admitted_bands = bands.join(F.broadcast(keep_ids), "doc_id", "left_semi")
    return admitted, admitted_bands


def _band_spec_for(batch: DataFrame, id_col: str):
    """Band-state StateSpec with the doc_id DDL type taken from the
    batch's actual id column — the state stores whatever id type the
    corpus uses (long here, string elsewhere), pinned by the shared
    STATE_SPEC marker against cross-type reopens."""
    from kafka_connect_ftp_spark.streaming.bucketed_state import band_spec

    return band_spec(batch.schema[id_col].dataType.simpleString())


def read_band_state(
    spark,
    state_dir: str,
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_width: int = 8,
    band_size: int = 4,
    exclude_epoch: int | None = None,
    buckets: int | None = None,
) -> DataFrame | None:
    """Read the cross-batch band-key state, or None for the genuine
    first batch. The schema is exactly what the steps write — derived
    from an empty slice of ``batch`` (no action runs) plus the
    ``epoch`` partition column. Reading WITH a schema matters for crash
    recovery: a state dir that exists but holds no committed file
    (crash during the very first write left only _temporary) would
    otherwise raise UNABLE_TO_INFER_SCHEMA on every replay —
    permanently wedging the stream — where an explicit schema reads it
    as empty.

    ``exclude_epoch`` drops the CALLING batch's own ``epoch=N`` rows:
    state is written per-epoch (overwrite), and a crash DURING that
    write can leave a torn subset of the batch's band keys visible —
    if a replay read them, partially-covered documents would
    self-collide, and the idempotent sink's rewrite would drop their
    already-delivered rows. Excluding the own epoch makes the replay a
    from-scratch recomputation against exactly the pre-batch state:
    deterministic operators then rewrite sink AND state byte-identically
    regardless of how torn the first attempt was. Shared by the
    single-gate step below and the composed curation step
    (streaming/curation_stream.py).

    ``buckets`` (round 12) switches to the bucketed EXTERNAL state
    table (streaming/bucketed_state.py) CLUSTERED BY (band, bsig) —
    the per-batch semi-join then reads the state bucket-aligned with
    NO state-side Exchange, so per-batch cost is bounded by the batch,
    not by history; must match the count the state was created with on
    every call."""
    from pyspark.errors import AnalysisException

    from kafka_connect_ftp_spark.streaming.bucketed_state import (
        is_bucketed_dir,
        read_table,
    )

    if buckets is not None:
        seen = read_table(
            spark, state_dir, buckets, _band_spec_for(batch, id_col)
        )
        if exclude_epoch is not None:
            seen = seen.filter(
                F.col("epoch").isNull() | (F.col("epoch") != exclude_epoch)
            )
        return seen.drop("epoch")
    if is_bucketed_dir(state_dir):
        raise ValueError(
            f"band state at {state_dir} is BUCKETED — pass buckets=N "
            "(reading its files as plain epoch dirs would miss the "
            "bucketed/ data entirely)"
        )
    state_schema = band_signatures(
        minhash_signatures(
            batch.limit(0), id_col, text_col,
            n_hashes=n_hashes, shingle_width=shingle_width,
        ),
        band_size=band_size,
    ).schema.add("epoch", "integer")
    try:
        seen = spark.read.schema(state_schema).parquet(state_dir)
    except AnalysisException as exc:
        # ONLY the genuine first-batch case (state dir not written yet)
        # may proceed stateless; any other read failure — corrupt
        # footer, FS hiccup — must fail the batch, or every document
        # would silently bypass the cross-batch collision check and
        # near-dups of admitted docs reach the sink
        if "PATH_NOT_FOUND" not in str(exc):
            raise
        return None
    if exclude_epoch is not None:
        seen = seen.filter(
            F.col("epoch").isNull() | (F.col("epoch") != exclude_epoch)
        )
    return seen.drop("epoch")


def write_band_state(
    spark,
    bands: DataFrame,
    state_dir: str,
    epoch: int,
    *,
    buckets: int | None = None,
) -> None:
    """Persist one batch's admitted band keys under its own epoch —
    OVERWRITE semantics either way, so a crash replay rewrites its own
    epoch idempotently and never touches another batch's (the
    ``read_band_state`` exclude_epoch contract). Bucketed mode goes
    through the shared static-partition INSERT OVERWRITE
    (streaming/bucketed_state.py). ``bands`` carries (doc_id, band,
    bsig) as produced by ``band_signatures``."""
    if buckets is not None:
        from kafka_connect_ftp_spark.streaming.bucketed_state import write_epoch

        write_epoch(
            spark, bands, state_dir, epoch, buckets,
            _band_spec_for(bands, "doc_id"),
        )
    else:
        bands.write.mode("overwrite").parquet(f"{state_dir}/epoch={int(epoch)}")


def make_near_dup_step(
    spark,
    out_dir: str,
    state_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_width: int = 8,
    band_size: int = 4,
    idempotent: bool = False,
    buckets: int | None = None,
    compact_every: int | None = None,
):
    """Build the foreachBatch function (exposed so tests can drive a
    replayed batch directly). ``compact_every=N`` folds old state
    epochs every N-th batch (state_compaction.maybe_compact — runs
    after the state write, never concurrent with this stream's own
    reads). ``idempotent=True`` writes each batch to
    its own ``epoch=N`` partition with overwrite — the
    ``idempotent_parquet_sink`` pattern — which upgrades the sink to
    effectively-once: the state read EXCLUDES the batch's own epoch
    (``read_band_state``), so a replay after a crash at ANY point —
    before the sink, between sink and state, or mid-state-write with a
    torn subset of band keys visible — recomputes against exactly the
    pre-batch state and rewrites both the sink epoch and the state
    epoch byte-identically."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        seen = read_band_state(
            spark, state_dir, batch,
            id_col=id_col, text_col=text_col, n_hashes=n_hashes,
            shingle_width=shingle_width, band_size=band_size,
            exclude_epoch=batch_id, buckets=buckets,
        )
        admitted, _ = filter_micro_batch(
            batch,
            seen,
            id_col=id_col,
            text_col=text_col,
            n_hashes=n_hashes,
            shingle_width=shingle_width,
            band_size=band_size,
        )
        # checkpoint the admitted set so the sketch/CC chain runs once,
        # then RE-derive its band keys from the checkpointed frame —
        # minhash/banding are deterministic, so these are byte-identical
        # to the keys the filter computed, without dragging that plan's
        # lineage into a second execution
        admitted = admitted.localCheckpoint(eager=True)
        if idempotent:
            if admitted.isEmpty():
                return
            admitted.write.mode("overwrite").parquet(f"{out_dir}/epoch={batch_id}")
        else:
            admitted.write.mode("append").parquet(out_dir)
        sig = minhash_signatures(
            admitted, id_col, text_col, n_hashes=n_hashes, shingle_width=shingle_width
        )
        # per-epoch overwrite, not a flat append: a replay rewrites its
        # OWN epoch dir idempotently, and read_band_state's
        # exclude_epoch makes a torn first attempt invisible to the
        # replay (docstring above). The price: a crash after BOTH
        # writes but before the checkpoint commit re-admits the batch
        # on replay with identical output — at-least-once, exactly the
        # delivery contract already documented — instead of silently
        # LOSING rows to self-collision against a torn state subset.
        write_band_state(
            spark, band_signatures(sig, band_size=band_size), state_dir,
            batch_id, buckets=buckets,
        )
        from kafka_connect_ftp_spark.streaming.state_compaction import (
            maybe_compact,
        )

        maybe_compact(spark, state_dir, batch_id, compact_every, buckets=buckets)

    return _step


def start_near_dup_filter(
    stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_width: int = 8,
    band_size: int = 4,
    idempotent: bool = False,
    buckets: int | None = None,
    compact_every: int | None = None,
):
    """Start the incremental near-dup filter: admitted documents to
    ``out_dir`` (epoch-partitioned effectively-once when ``idempotent``,
    plain append otherwise), their band keys to ``state_dir`` (bucketed
    external table when ``buckets`` is set — module doc). Returns
    the StreamingQuery."""
    step = make_near_dup_step(
        stream.sparkSession,
        out_dir,
        state_dir,
        id_col=id_col,
        text_col=text_col,
        n_hashes=n_hashes,
        shingle_width=shingle_width,
        band_size=band_size,
        idempotent=idempotent,
        buckets=buckets,
        compact_every=compact_every,
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
