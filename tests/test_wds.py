"""WebDataset tar-shard export (operators/wds.py): round trip, member
layout, determinism (byte-identical re-runs), optional/NULL handling,
and the loud contract failures."""

from __future__ import annotations

import hashlib
import json
import tarfile

import pytest
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.operators.wds import read_wds_shards, write_wds_shards


@pytest.fixture()
def docs(spark):
    rows = [
        (i, f"text of doc {i}", json.dumps({"source": f"s{i % 3}"}), bytes([i % 251, 1, 2]))
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, meta string, content binary"
    )


FIELDS = {"text": "txt", "meta": "json", "content": "bin"}


def test_round_trip_preserves_every_sample_and_field(spark, docs, tmp_path):
    out = str(tmp_path / "wds")
    paths = write_wds_shards(docs, out, fields=FIELDS, n_shards=4)
    assert len(paths) == 4
    back = read_wds_shards(spark, out, fields=FIELDS)
    got = {r.sample_key: r for r in back.collect()}
    assert len(got) == 40
    for i in range(40):
        r = got[f"{i:012d}"]
        assert r.text == f"text of doc {i}"
        # json fields canonicalize (sort_keys) on both write and read-back
        assert json.loads(r.meta) == {"source": f"s{i % 3}"}
        assert bytes(r.content) == bytes([i % 251, 1, 2])
        assert r.shard.startswith("shard-") and r.shard.endswith(".tar")


def test_sample_members_are_adjacent_with_fixed_metadata(docs, tmp_path):
    out = str(tmp_path / "wds")
    write_wds_shards(docs, out, fields=FIELDS, n_shards=2)
    with tarfile.open(f"{out}/shard-00000.tar") as tar:
        members = tar.getmembers()
        assert members, "shard 0 should not be empty at 40 rows"
        # members of one sample are consecutive: names arrive grouped by key
        keys = [m.name.rsplit(".", 1)[0] for m in members]
        seen, prev = set(), None
        for k in keys:
            if k != prev:
                assert k not in seen, f"sample {k} split across the tar"
                seen.add(k)
            prev = k
        # reproducible headers (mtime/uid/mode pinned)
        for m in members:
            assert m.mtime == 0 and m.uid == 0 and m.mode == 0o644


def test_export_is_byte_deterministic_across_runs(docs, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_wds_shards(docs, a, fields=FIELDS, n_shards=3)
    write_wds_shards(docs.repartition(7), b, fields=FIELDS, n_shards=3)

    def digests(d):
        return {
            i: hashlib.sha256(open(f"{d}/shard-{i:05d}.tar", "rb").read()).hexdigest()
            for i in range(3)
        }

    assert digests(a) == digests(b)


def test_different_salt_routes_differently(docs, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_wds_shards(docs, a, fields=FIELDS, n_shards=3, salt="v1")
    write_wds_shards(docs, b, fields=FIELDS, n_shards=3, salt="v2")
    sizes_a = [len(tarfile.open(f"{a}/shard-{i:05d}.tar").getmembers()) for i in range(3)]
    sizes_b = [len(tarfile.open(f"{b}/shard-{i:05d}.tar").getmembers()) for i in range(3)]
    assert sizes_a != sizes_b  # 40 docs over 3 shards: collision is ~impossible


def test_null_field_skips_member_null_id_fails(spark, tmp_path):
    rows = [(1, "a", b"\x01"), (2, None, b"\x02")]
    df = spark.createDataFrame(rows, "doc_id long, text string, content binary")
    out = str(tmp_path / "wds")
    write_wds_shards(df, out, fields={"text": "txt", "content": "bin"}, n_shards=1)
    with tarfile.open(f"{out}/shard-00000.tar") as tar:
        names = {m.name for m in tar.getmembers()}
    assert f"{1:012d}.txt" in names and f"{2:012d}.bin" in names
    assert f"{2:012d}.txt" not in names  # NULL text -> member skipped

    bad = spark.createDataFrame([(None, "x", b"\x01")], "doc_id long, text string, content binary")
    with pytest.raises(Exception, match="NULL doc_id"):
        write_wds_shards(bad, str(tmp_path / "bad"), fields={"text": "txt"}, n_shards=1)


def test_contract_violations_raise(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="non-empty"):
        write_wds_shards(docs, str(tmp_path / "x"), fields={}, n_shards=1)
    with pytest.raises(ValueError, match="not in frame"):
        write_wds_shards(docs, str(tmp_path / "x"), fields={"nope": "txt"}, n_shards=1)
    with pytest.raises(ValueError, match="n_shards"):
        write_wds_shards(docs, str(tmp_path / "x"), fields=FIELDS, n_shards=0)
    # a non-binary column under a binary extension fails loudly
    with pytest.raises(Exception, match="must be binary"):
        write_wds_shards(
            docs, str(tmp_path / "x"), fields={"text": "jpg"}, n_shards=1
        )


def test_real_documents_table_exports(spark, tmp_path):
    from kafka_connect_ftp_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", "documents")["documents"]
    out = str(tmp_path / "wds")
    write_wds_shards(
        docs.withColumn("meta", F.to_json(F.struct("source", "n_chars"))),
        out,
        fields={"text": "txt", "meta": "json"},
        n_shards=4,
    )
    back = read_wds_shards(spark, out, fields={"text": "txt", "meta": "json"})
    assert back.count() == docs.count()


def test_duplicate_extensions_rejected(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="extensions must be unique"):
        write_wds_shards(
            docs, str(tmp_path / "x"), fields={"text": "txt", "meta": "txt"}, n_shards=1
        )


def test_read_back_is_distributed_no_driver_loop(spark, docs, tmp_path):
    out = str(tmp_path / "wds")
    write_wds_shards(docs, out, fields=FIELDS, n_shards=3)
    back = read_wds_shards(spark, out, fields=FIELDS)
    # plan pin: samples parse inside MapInPandas on executors; the only
    # driver-side rows are the shard PATH strings (metadata)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # every shard parses in the task that owns it: rows per shard match
    per_shard = {r.shard: r["count"] for r in back.groupBy("shard").count().collect()}
    assert sum(per_shard.values()) == 40 and len(per_shard) == 3
    # an existing-but-empty shard dir is an empty frame, not an error
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_wds_shards(spark, str(empty), fields=FIELDS).count() == 0


def test_reshard_byte_identical_regardless_of_input_sharding(spark, docs, tmp_path):
    from kafka_connect_ftp_spark.operators.wds import reshard_wds

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    write_wds_shards(docs, a, fields=FIELDS, n_shards=5)
    write_wds_shards(docs, b, fields=FIELDS, n_shards=2)
    ra = reshard_wds(spark, a, str(tmp_path / "ra"), fields=FIELDS, n_shards=3)
    rb = reshard_wds(spark, b, str(tmp_path / "rb"), fields=FIELDS, n_shards=3)
    assert len(ra) == len(rb) == 3
    for pa, pb in zip(ra, rb):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
    back = read_wds_shards(spark, str(tmp_path / "ra"), fields=FIELDS)
    assert back.count() == 40


def test_read_corpus_wds_round_trip(spark, docs, tmp_path):
    from kafka_connect_ftp_spark.ingest.corpus import read_corpus

    out = str(tmp_path / "wds")
    write_wds_shards(docs, out, fields=FIELDS, n_shards=3)
    back = read_corpus(spark, out, fmt="wds", wds_fields=FIELDS)
    rows = {r.doc_id: r for r in back.collect()}
    # integer ids invert the writer's zero-padding losslessly
    assert set(rows) == set(range(40))
    assert rows[7].text == "text of doc 7"
    assert rows[7].source.startswith("shard-")
    assert bytes(rows[7].content) == bytes([7 % 251, 1, 2])
    # string sample keys hash deterministically instead of casting
    sdocs = spark.createDataFrame(
        [("key-a", "alpha"), ("key-b", "beta")], "doc_id string, text string"
    )
    out2 = str(tmp_path / "wds2")
    write_wds_shards(sdocs, out2, fields={"text": "txt"}, n_shards=1)
    back2 = {r.sample_key: r.doc_id for r in read_corpus(spark, out2, fmt="wds").collect()}
    assert set(back2) == {"key-a", "key-b"} and all(isinstance(v, int) for v in back2.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="do not apply"):
        read_corpus(spark, out, fmt="wds", id_field="sample_key")
    with _pytest.raises(ValueError, match="only applies"):
        read_corpus(spark, out, fmt="jsonl", wds_fields={"text": "txt"})
    with _pytest.raises(ValueError, match="'text' member"):
        read_corpus(spark, out, fmt="wds", wds_fields={"meta": "json"})


def test_read_corpus_wds_negative_ids_round_trip(spark, tmp_path):
    # the package's own doc_id convention is xxhash64(...) — SIGNED,
    # negative about half the time. '%012d' sign-prefixes those keys
    # ('-00000000005'), which the original digits-only read-back pattern
    # rejected: doc_id silently re-hashed for ~half of real corpora.
    from kafka_connect_ftp_spark.ingest.corpus import read_corpus

    ids = [-5, -(10**11), -(2**62), 0, 7, 2**62]
    ndocs = spark.createDataFrame(
        [(i, f"text {i}") for i in ids], "doc_id long, text string"
    )
    out = str(tmp_path / "wdsneg")
    write_wds_shards(ndocs, out, fields={"text": "txt"}, n_shards=2)
    back = {r.doc_id: r.text for r in read_corpus(spark, out, fmt="wds").collect()}
    assert back == {i: f"text {i}" for i in ids}


def test_streaming_wds_sink_replay_converges(spark, docs, tmp_path):
    import hashlib

    from kafka_connect_ftp_spark.operators.wds import make_wds_sink

    out = str(tmp_path / "stream_wds")
    sink = make_wds_sink(out, fields=FIELDS, n_shards=2)
    b0 = docs.filter("doc_id < 20")
    b1 = docs.filter("doc_id >= 20")
    sink(b0, 0)
    sink(b1, 1)

    def digest(epoch):
        h = hashlib.sha256()
        for i in range(2):
            with open(f"{out}/epoch={epoch:06d}/shard-{i:05d}.tar", "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    before = digest(0)
    sink(b0, 0)  # at-least-once re-delivery of epoch 0
    assert digest(0) == before  # byte-identical: replay converges
    # both epochs read back to the full corpus, no duplicates
    back = read_wds_shards(spark, f"{out}/epoch=*", fields=FIELDS)
    assert back.count() == 40 and back.select("sample_key").distinct().count() == 40


def test_streaming_wds_sink_on_a_real_stream(spark, docs, tmp_path):
    from kafka_connect_ftp_spark.operators.wds import make_wds_sink, read_wds_shards

    src = tmp_path / "in"
    src.mkdir()
    docs.coalesce(1).write.json(str(src / "b1"))
    stream = spark.readStream.schema(
        "doc_id long, text string, meta string, content binary"
    ).json(str(src / "*"))
    out = str(tmp_path / "wds")
    q = (
        stream.writeStream.foreachBatch(
            make_wds_sink(out, fields={"text": "txt", "meta": "json"}, n_shards=2)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = read_wds_shards(spark, f"{out}/epoch=*", fields={"text": "txt", "meta": "json"})
    assert back.count() == 40


def test_read_back_yields_bounded_chunks(spark, tmp_path):
    """Round 10 (VERDICT r9 #1): the read-back must stream each shard as
    bounded chunks, never one whole-shard frame — per-task peak memory
    is chunk-sized at production (multi-GB) shard sizes."""
    from kafka_connect_ftp_spark.operators.wds import _iter_sample_chunks

    rows = [(i, f"doc {i} body", json.dumps({"i": i}), bytes([i % 251]))
            for i in range(300)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, meta string, content binary"
    )
    out = str(tmp_path / "wds")
    [path] = write_wds_shards(docs, out, fields=FIELDS, n_shards=1)
    field_items = sorted(FIELDS.items())

    # row-count bound: 300 samples at chunk_rows=64 -> >1 chunk, each <=64
    chunks = list(_iter_sample_chunks(path, field_items, chunk_rows=64))
    assert len(chunks) >= 5 and all(len(c) <= 64 for c in chunks)
    # byte bound kicks in even with a huge row allowance
    bchunks = list(
        _iter_sample_chunks(path, field_items, chunk_rows=10**9, chunk_bytes=256)
    )
    assert len(bchunks) > 1
    # chunked union == the full sample set, fields intact
    flat = {t[0]: t for c in chunks for t in c}
    assert len(flat) == 300
    for i in range(300):
        k = f"{i:012d}"
        key, shard, content, meta, text = flat[k]
        assert text == f"doc {i} body" and bytes(content) == bytes([i % 251])

    # and the Spark read with a tiny chunk size matches the default read
    small = read_wds_shards(spark, out, fields=FIELDS, chunk_rows=7)
    assert {r.sample_key: (r.text, bytes(r.content)) for r in small.collect()} == {
        r.sample_key: (r.text, bytes(r.content))
        for r in read_wds_shards(spark, out, fields=FIELDS).collect()
    }


def test_unified_routing_key_across_writers(spark, docs, tmp_path):
    """Round 10 (VERDICT r9 #4): one canonical sample_key spelling —
    wds export, parquet sharding, and reshard route an integer-id
    corpus IDENTICALLY, and a reshard with the same knobs is
    byte-identical to a direct export."""
    from kafka_connect_ftp_spark.operators.sharding import (
        sample_key_col,
        shuffled_shards,
    )
    from kafka_connect_ftp_spark.operators.wds import reshard_wds

    direct = str(tmp_path / "direct")
    write_wds_shards(docs, direct, fields=FIELDS, n_shards=3, salt="s9")
    resharded = reshard_wds(
        spark,
        direct,
        str(tmp_path / "reshard"),
        fields=FIELDS,
        n_shards=3,
        salt="s9",
    )
    for pd_, pr in zip(
        sorted(str(tmp_path / "direct" / f"shard-{i:05d}.tar") for i in range(3)),
        sorted(resharded),
    ):
        with open(pd_, "rb") as fa, open(pr, "rb") as fb:
            assert fa.read() == fb.read()

    # parquet sharding routes on the same key: shard index per doc matches
    sharded = shuffled_shards(docs, salt="s9", n_shards=3)
    spark_ids = {
        r.doc_id: r.p
        for r in sharded.select("doc_id", F.spark_partition_id().alias("p")).collect()
    }
    wds_ids = {
        int(r.sample_key): int(r.shard[6:11])
        for r in read_wds_shards(spark, direct, fields=FIELDS).collect()
    }
    assert spark_ids == wds_ids

    # the canonical key for integral ids is the zero-padded tar key
    got = docs.select(sample_key_col(docs, "doc_id").alias("k")).first().k
    assert len(got) == 12 and got.isdigit()


@pytest.mark.skipif(
    not __import__("os").environ.get("SPARK_GRAFT_SLOW"),
    reason="volume smoke (~1 min); set SPARK_GRAFT_SLOW=1",
)
def test_chunked_read_volume_smoke(spark, tmp_path):
    """20k-sample single shard reads back complete through small chunks
    — the production-shape memory claim exercised at volume."""
    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body of document "), F.col("id").cast("string")).alias("text"),
    )
    out = str(tmp_path / "vol")
    write_wds_shards(docs, out, fields={"text": "txt"}, n_shards=1)
    back = read_wds_shards(spark, out, fields={"text": "txt"}, chunk_rows=512)
    assert back.count() == 20_000
    assert back.select(F.count_distinct("sample_key")).first()[0] == 20_000


def test_manifest_and_verify_cycle(spark, docs, tmp_path):
    """Round 10: shard-set integrity manifests — per-shard sha256
    (checked against hashlib ground truth), byte and sample counts;
    verify returns empty on an intact set and names the corrupted /
    missing / unexpected shards afterwards."""
    from kafka_connect_ftp_spark.operators.wds import (
        manifest_wds_shards,
        verify_wds_shards,
        write_wds_manifest,
        write_wds_shards,
    )

    out = str(tmp_path / "wds")
    paths = write_wds_shards(docs, out, fields=FIELDS, n_shards=3)
    man = {r.shard: r for r in manifest_wds_shards(spark, out).collect()}
    assert len(man) == 3
    total = 0
    for p in paths:
        name = p.rsplit("/", 1)[1]
        with open(p, "rb") as fh:
            data = fh.read()
        assert man[name].sha256 == hashlib.sha256(data).hexdigest()
        assert man[name].n_bytes == len(data)
        total += man[name].n_samples
    assert total == 40

    mpath = write_wds_manifest(spark, out)
    assert mpath.endswith("_manifest.json")
    # the sidecar is invisible to the readers' *.tar glob
    assert read_wds_shards(spark, out, fields=FIELDS).count() == 40
    assert verify_wds_shards(spark, out).count() == 0

    # corrupt one shard, delete another, add a foreign one
    with open(paths[0], "r+b") as fh:
        fh.seek(10)
        fh.write(b"X")
    import os as _os

    _os.remove(paths[1])
    with tarfile.open(str(tmp_path / "wds" / "shard-99999.tar"), "w"):
        pass
    problems = {
        r.shard: r.problem for r in verify_wds_shards(spark, out).collect()
    }
    assert problems == {
        "shard-00000.tar": "mismatch",
        "shard-00001.tar": "missing",
        "shard-99999.tar": "unexpected",
    }


def test_reexport_sweeps_stale_manifest(spark, docs, tmp_path):
    """Round 11 (review r10): a re-export into the same dir must remove
    a pre-existing _manifest.json along with stale higher-numbered
    shards — otherwise the old manifest asserts wrong hashes for the
    new export and verify reports a good shard set as corrupted."""
    import os as _os

    from kafka_connect_ftp_spark.operators.wds import (
        verify_wds_shards,
        write_wds_manifest,
        write_wds_shards,
    )

    out = str(tmp_path / "wds")
    write_wds_shards(docs, out, fields=FIELDS, n_shards=3)
    write_wds_manifest(spark, out)
    # re-export with different knobs (fewer shards, new salt)
    write_wds_shards(docs, out, fields=FIELDS, n_shards=2, salt="v2")
    assert not _os.path.exists(_os.path.join(out, "_manifest.json"))
    # a fresh manifest over the new export verifies clean
    write_wds_manifest(spark, out)
    assert verify_wds_shards(spark, out).count() == 0
