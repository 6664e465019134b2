"""Incremental corpus curation: documents ARRIVE (a file-source stream
standing in for the records the FTP ingest stream lands: ``StreamingIngest``
over ``PollPipeline(source=FtpSource(...))``) and flow through the
composed curation gate as they land —

    arriving docs
      → ONE foreachBatch (streaming/curation_stream.py), ONE checkpoint:
          near-dup filter   (MinHash band keys of admitted docs as
                             cross-batch state)
          → quality gate    (repetition gate → PRE-TRAINED classifier →
                             deterministic Pareto keep)
      → curated parquet (idempotent epoch partitions)

The gate runs the BATCH operators inside foreachBatch, so a document
admitted incrementally is exactly the document the batch pipeline
(examples/llm_data_prep.py) would have admitted. Through round 6 this
example staged the two gates as separate streams through an
intermediate table — two checkpoints whose crash/replay windows had to
be reasoned about independently; the composed form has one recovery
story, replay-pinned at the composed level by
tests/test_curation_stream.py. (The staged form remains available via
the individual ``start_near_dup_filter`` / ``start_quality_gate``
APIs when the intermediate table is itself a deliverable.)

The quality model is trained once up front (from the first sf_dir
corpus slice, the train-once/score-many shape) and the stream scores
from the saved artifact.

Run: PYTHONPATH=. python examples/streaming_curation.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

from kafka_connect_ftp_spark.operators.quality_model import (
    load_quality_model,
    save_quality_model,
    train_quality_classifier,
)
from kafka_connect_ftp_spark.session import get_spark, load_tables
from kafka_connect_ftp_spark.streaming.curation_stream import start_curation


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("streaming_curation")
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    work = tempfile.mkdtemp(prefix="stream_curation_")

    # train the quality model ONCE from a labeled slice (sources 0-4
    # play the trusted reference, as in llm_data_prep), persist, reload
    trusted = F.col("source").isin(*[f"src{i}" for i in range(5)])
    model_path = os.path.join(work, "quality_lr")
    save_quality_model(
        train_quality_classifier(
            docs.filter(trusted), docs.filter(~trusted), n_features=1 << 14
        ),
        model_path,
    )
    model = load_quality_model(spark, model_path)

    # stage the corpus as three "arriving" micro-batches, the second
    # re-delivering a slice of the first (at-least-once upstream)
    src = os.path.join(work, "src")
    os.makedirs(src)
    third = docs.count() // 3
    b1 = docs.filter(F.col("doc_id") < third)
    b2 = (
        docs.filter(F.col("doc_id").between(third, 2 * third - 1))
        .unionByName(b1.limit(20))
    )
    b3 = docs.filter(F.col("doc_id") >= 2 * third)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    gate_out = os.path.join(work, "curated")
    q = start_curation(
        stream.select("doc_id", "text"),
        model,
        gate_out,
        os.path.join(work, "band_state"),
        os.path.join(work, "ckpt"),  # the ONE checkpoint
        alpha=2.0,  # llm_data_prep's keep-rate knob; 9.0 near-hard-thresholds
        # round 11: C4 span dedup as stage 0b — the batch pipeline's
        # order (llm_data_prep 0b), cross-batch span-hash state
        span_unit="line",
        span_state_dir=os.path.join(work, "span_state"),
    )

    try:
        for batch in (b1, b2, b3):
            batch.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    # maintenance (round 12): fold old per-batch state epochs into one
    # consolidated partition — the key SET is preserved exactly and the
    # replay contract stays intact, but a long-running stream no longer
    # accrues one state partition per trigger forever
    from kafka_connect_ftp_spark.streaming.state_compaction import (
        compact_epoch_state,
    )

    for state_name in ("band_state", "span_state"):
        state_dir = os.path.join(work, state_name)
        keys_before = spark.read.parquet(state_dir).drop("epoch").distinct().count()
        res = compact_epoch_state(spark, state_dir, keep_epochs=1)
        keys_after = spark.read.parquet(state_dir).drop("epoch").distinct().count()
        assert keys_after == keys_before, (state_name, keys_before, keys_after)
        print(
            f"compacted {state_name}: epochs {res['folded']} -> "
            f"epoch={res['target']} ({keys_after} keys, unchanged)"
        )

    n_in = docs.count()
    curated = spark.read.parquet(gate_out)
    n_out = curated.count()
    n_unique = curated.select("doc_id").distinct().count()
    n_state = (
        spark.read.parquet(os.path.join(work, "band_state"))
        .select("doc_id").distinct().count()
    )
    print(f"arrived:        {n_in} (+20 re-delivered)")
    print(f"near-dup kept:  {n_state} (band-state docs, incl. quality-rejected)")
    print(f"curated:        {n_out} (unique: {n_unique})")
    assert n_out == n_unique, "re-delivered docs must not be admitted twice"
    assert 0 < n_out <= n_state <= n_in
    return 0


if __name__ == "__main__":
    sys.exit(main())
