"""WebDataset-style tar-shard export: the delivery format multimodal
training loaders stream (webdataset / torchdata tar archives — one tar
per shard, one file-per-field per sample, samples grouped by key).

``operators/sharding.py`` answers WHERE each document goes and in WHAT
order (deterministic hash shuffle, split partitioning, bounded files);
this module writes those shards in the tar layout instead of parquet:
``shard-%05d.tar`` containing, per sample, ``<key>.<field-ext>`` members
(e.g. ``000017.txt`` + ``000017.json`` + ``000017.jpg``), consecutive
members of one sample adjacent — the contract webdataset loaders rely
on for sequential streaming.

Scale design:
- routing uses ``xxhash64(salt, sample_key)`` where ``sample_key`` is
  the CANONICAL id string (``sharding.sample_key_col``: zero-padded
  ``%012d`` for integral ids — exactly the tar member key — plain
  string cast otherwise). Deterministic (a crashed export re-runs to
  byte-identical shards), uniform, one map-side column, and — round
  10 — ONE spelling across ``write_wds_shards``, ``sharding.py`` and
  ``reshard_wds``: parquet shards and wds shards of the same corpus
  now correspond, and a same-knob reshard is byte-identical to a
  direct export (the read-back key IS the routing key). Each shard is
  ONE task's partition, so the export is embarrassingly parallel and
  no executor ever holds more than its stream position in memory
  (tarfile writes member-by-member);
- tar members are written in the partition's deterministic hash order
  with a FIXED mtime/uid/perm header, so shard bytes are reproducible
  run to run (byte-identity is test-pinned) — the property object-store
  dedup and resume logic want;
- each task writes ``<name>.tmp`` then renames — a re-run or a
  speculative duplicate task can never leave a torn tar visible. This
  targets a shared POSIX filesystem (the webdataset convention; NFS /
  lustre / fuse mounts); for object stores, point it at a local staging
  dir and upload the closed shards.

Binary fields (images/audio — the multimodal convention of
``operators/multimodal.py``) pass through as raw bytes; text fields are
UTF-8; ``json`` fields are already-JSON string columns (build them
JVM-side with ``F.to_json``) written verbatim after parse-validation.
NULL field values skip that member (webdataset's optional-field
convention); a NULL id fails the export loudly (the repetition_signals
convention).
"""

from __future__ import annotations

import io
import json
import os
import tarfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EXT_TEXT = "txt"
_EXT_JSON = "json"


def _member_bytes(value, ext: str) -> bytes:
    if ext == _EXT_TEXT:
        # fail-loudly convention (review 9b): a binary column mis-mapped
        # to txt would otherwise write Python repr garbage (b'...')
        if not isinstance(value, str):
            raise TypeError(
                f"txt member expects a string column, got {type(value).__name__}"
            )
        return value.encode("utf-8")
    if ext == _EXT_JSON:
        # the column is an ALREADY-JSON string (build it JVM-side with
        # F.to_json) written verbatim; parse-validate so a non-JSON
        # string fails the export loudly instead of corrupting shards
        data = str(value).encode("utf-8")
        json.loads(data)
        return data
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    raise ValueError(f"field with extension {ext!r} must be binary, got {type(value)}")


def write_wds_shards(
    df: DataFrame,
    out_dir: str,
    *,
    fields: dict[str, str],
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "v1",
) -> list[str]:
    """Export ``df`` as ``n_shards`` webdataset tar shards under
    ``out_dir``; returns the shard paths. ``fields`` maps column name →
    member extension (``"txt"`` utf-8 text, ``"json"`` an already-JSON
    string column — build it JVM-side with ``F.to_json``; validated at
    write — anything else raw bytes from a binary column, e.g.
    ``{"text": "txt", "meta": "json", "content": "jpg"}``). Sample keys are the zero-padded
    ``id_col`` values; rows land in shards by ``xxhash64(salt,
    sample_key)`` (the canonical ``sharding.sample_key_col`` spelling)
    and are tar'd in
    deterministic hash order (same corpus + salt → byte-identical
    shards)."""
    if not fields:
        raise ValueError("fields must be non-empty")
    missing = [c for c in fields if c not in df.columns]
    if missing:
        raise ValueError(f"fields not in frame: {missing}")
    if len(set(fields.values())) != len(fields):
        # member names are <key>.<ext>: two columns sharing an extension
        # would write colliding members and silently drop one field
        raise ValueError(f"field extensions must be unique, got {fields}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if {"_k", "_sk"} & {id_col, *fields}:
        # the sharding.py reserved-name rule (review 9b): withColumn
        # would silently overwrite the user's column with hash values
        raise ValueError("columns '_k'/'_sk' are reserved by write_wds_shards")
    os.makedirs(out_dir, exist_ok=True)

    from kafka_connect_ftp_spark.operators.sharding import sample_key_col

    narrowed = df.select(id_col, *fields)
    key = F.xxhash64(F.lit(salt), sample_key_col(narrowed, id_col))
    # the tar member key is computed JVM-side with the SAME canonical
    # sample_key_col spelling the router hashes (round 12: the Python
    # side previously re-derived it per Row — one spelling, zero
    # drift-by-construction, and no per-row type dispatch in the worker)
    routed = (
        narrowed
        .withColumn("_k", key)
        .withColumn("_sk", sample_key_col(narrowed, id_col))
        # hash partitioning on the deterministic key: same corpus + salt
        # + n_shards -> same rows per shard, every run
        .repartition(n_shards, F.col("_k"))
        # id tie-break so a 64-bit hash collision can't make shard BYTES
        # order-unstable across runs
        .sortWithinPartitions("_k", id_col)
    )
    field_items = sorted(fields.items())  # deterministic member order

    def write_partition(batches):
        import pandas as pd
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        path = os.path.join(out_dir, f"shard-{pid:05d}.tar")
        tmp = path + f".tmp-{tc.taskAttemptId()}"
        n = 0
        prev_key = None
        with tarfile.open(tmp, "w") as tar:
            for pdf in batches:
                cols = [pdf[c] for c, _ in field_items]
                for i, (rid, sample_key) in enumerate(
                    zip(pdf[id_col], pdf["_sk"])
                ):
                    if rid is None or pd.isna(rid):
                        raise ValueError(f"write_wds_shards: NULL {id_col}")
                    # duplicate ids always land in the same shard (same
                    # hash) and sort adjacent — a colliding tar member
                    # would merge last-wins on read-back, silent row loss
                    # (review 9b)
                    if sample_key == prev_key:
                        raise ValueError(
                            f"write_wds_shards: duplicate {id_col} {rid!r} — "
                            "sample keys must be unique (dedup or re-key first)"
                        )
                    prev_key = sample_key
                    for (col, ext), series in zip(field_items, cols):
                        val = series.iloc[i]
                        if val is None:
                            continue  # webdataset optional-field convention
                        data = _member_bytes(val, ext)
                        info = tarfile.TarInfo(f"{sample_key}.{ext}")
                        info.size = len(data)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        info.mode = 0o644
                        tar.addfile(info, io.BytesIO(data))
                    n += 1
        os.replace(tmp, path)  # atomic publish; re-runs overwrite cleanly
        yield pd.DataFrame({"n": [n]})

    # Arrow-batched mapInPandas + a noop write rather than a Spark
    # writer or rdd.foreachPartition: tar is not a splittable columnar
    # sink, the per-task temp+rename gives the same can't-observe-a-
    # torn-file property the writer protocol does, and the Arrow path
    # moves the payload columns to the Python worker as columnar
    # batches instead of pickled Row objects (guide §4.1 — the
    # df.rdd conversion also forced a JavaToPython pickle pass;
    # measured ~1.3s -> ~0.35s for the sf0.1 crawl export). The local
    # sort below the opaque mapInPandas is preserved (no exchange in
    # between), so member order — and therefore shard BYTES — are
    # unchanged (byte-identity stays test-pinned).
    routed.mapInPandas(write_partition, "n long").write.format("noop").mode(
        "overwrite"
    ).save()
    # stale-shard sweep (review 9b): a re-export with a SMALLER n_shards
    # into the same dir leaves higher-numbered shards from the previous
    # run, and read/reshard glob every *.tar — duplicated samples with
    # no error. The overwrite-cleanly guarantee must cover the count.
    import re as _re

    for entry in os.listdir(out_dir):
        m = _re.fullmatch(r"shard-(\d{5})\.tar", entry)
        if m and int(m.group(1)) >= n_shards:
            os.remove(os.path.join(out_dir, entry))
    # a pre-existing integrity manifest describes the PREVIOUS export —
    # after a re-export with different knobs it would assert wrong
    # hashes for the current shards until write_wds_manifest reruns, so
    # the same sweep that removes stale tars must remove it (review
    # r10: verify_wds_shards against a stale manifest reports every
    # shard corrupted/mismatched on a perfectly good export)
    manifest = os.path.join(out_dir, "_manifest.json")
    if os.path.exists(manifest):
        os.remove(manifest)
    return [os.path.join(out_dir, f"shard-{i:05d}.tar") for i in range(n_shards)]


def make_wds_sink(
    out_dir: str,
    *,
    fields: dict[str, str],
    id_col: str = "doc_id",
    n_shards: int = 8,
):
    """A ``foreachBatch`` sink writing each micro-batch as its own shard
    set under ``out_dir/epoch=%06d`` — the streaming face of
    :func:`write_wds_shards` for continuously-curated corpora.

    Replay-safe BY DETERMINISM rather than by a commit log: routing and
    in-shard order depend only on (salt, id), the salt is derived from
    the batch id, and each task publishes via tmp+rename — so an
    at-least-once re-delivery rewrites byte-identical shards to the same
    paths instead of duplicating samples (the effectively-once argument
    of the idempotent parquet sink, without needing epoch overwrite
    support from the format)."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        write_wds_shards(
            batch,
            os.path.join(out_dir, f"epoch={batch_id:06d}"),
            fields=fields,
            id_col=id_col,
            n_shards=n_shards,
            salt=f"e{batch_id}",
        )

    return _sink


def reshard_wds(
    spark,
    src_dir: str,
    dest_dir: str,
    *,
    fields: dict[str, str],
    n_shards: int,
    salt: str = "v1",
) -> list[str]:
    """Re-balance an exported shard set to a new shard count (cluster
    size changed, shards too big/small for the loader): distributed
    read back → deterministic re-route → write. Same corpus + salt +
    n_shards → byte-identical output regardless of the INPUT sharding,
    because routing and in-shard order depend only on the sample key."""
    back = read_wds_shards(spark, src_dir, fields=fields)
    return write_wds_shards(
        back.drop("shard"),
        dest_dir,
        fields=fields,
        id_col="sample_key",
        n_shards=n_shards,
        salt=salt,
    )


def _iter_sample_chunks(
    path: str,
    field_items: list[tuple[str, str]],
    *,
    chunk_rows: int = 2048,
    chunk_bytes: int = 64 << 20,
):
    """Stream one tar shard as chunks of sample tuples ``(sample_key,
    shard, <field values...>)`` — at most ``chunk_rows`` samples or
    ~``chunk_bytes`` decoded bytes per chunk, whichever hits first.

    Samples are grouped by MEMBER ADJACENCY (members of one sample
    consecutive in the tar) — the webdataset contract the writer
    enforces and every webdataset loader relies on; a foreign shard
    with the same key split across non-adjacent runs yields one
    partial row per run rather than merging across the whole archive
    (a whole-shard merge is exactly the unbounded buffering this
    streaming read exists to avoid)."""
    shard = os.path.basename(path)
    rows: list[tuple] = []
    pending = 0

    def tuples(key, d):
        return (key, shard, *[d.get(c) for c, _ in field_items])

    with tarfile.open(path, "r") as tar:
        cur_key: str | None = None
        cur: dict = {}
        # iterating the open tar streams member-at-a-time;
        # getmembers() would also work but scans ahead
        for m in tar:
            # foreign shards may carry directory entries or dotless
            # members — skip them instead of dying in the executor
            # with an unpack/attribute error (review 9b); only regular
            # dotted members are samples in the webdataset convention
            if not m.isfile() or "." not in m.name:
                continue
            keypart, ext = m.name.rsplit(".", 1)
            if keypart != cur_key:
                if cur_key is not None:
                    rows.append(tuples(cur_key, cur))
                    if len(rows) >= chunk_rows or pending >= chunk_bytes:
                        yield rows
                        rows, pending = [], 0
                cur_key, cur = keypart, {}
            for col, fext in field_items:
                if fext == ext:
                    data = tar.extractfile(m).read()
                    cur[col] = (
                        data.decode("utf-8")
                        if ext in (_EXT_TEXT, _EXT_JSON)
                        else data
                    )
                    pending += len(data)
                    break
        if cur_key is not None:
            rows.append(tuples(cur_key, cur))
    if rows:
        yield rows


def read_wds_shards(
    spark,
    out_dir: str,
    *,
    fields: dict[str, str],
    chunk_rows: int = 2048,
    chunk_bytes: int = 64 << 20,
) -> DataFrame:
    """Read an exported shard set back to a frame (shard audits,
    resharding, round-trip verification — loaders stream the tars
    directly). Returns one row per sample: ``(sample_key, shard,
    <field columns>)``; text/json fields decode utf-8, binary fields
    stay bytes.

    Distributed, mirroring the writer's work unit and deployment (the
    writer targets a shared POSIX filesystem — module doc): the driver
    lists shard PATHS only (metadata), one row per tar; each task
    streams its tar with ``tarfile.open(path)`` member by member in an
    Arrow-batched ``mapInPandas`` — no whole-shard byte BLOB ever
    materializes (a ``binaryFile`` scan would hold each tar as one
    value AND hard-fail past 2 GB), and decoded samples leave the task
    as bounded Arrow batches of at most ``chunk_rows`` samples /
    ~``chunk_bytes`` decoded bytes each (round 10: per-task peak is
    now chunk-sized, not shard-sized — a 10 GB production shard reads
    under the same memory as a 10 MB test one). Bytes never shuffle
    and the driver never holds samples. Samples group by member
    adjacency (the webdataset layout contract the writer enforces);
    row order follows tar order, not key order. An existing but empty
    shard dir reads as an empty frame."""
    import glob as _glob

    field_items = sorted(fields.items())
    schema = "sample_key string, shard string, " + ", ".join(
        f"{col} {'string' if ext in (_EXT_TEXT, _EXT_JSON) else 'binary'}"
        for col, ext in field_items
    )
    paths = sorted(_glob.glob(os.path.join(out_dir, "*.tar")))
    if not paths:
        return spark.createDataFrame([], schema)
    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )

    def parse(batches):
        import pandas as pd

        cols = ["sample_key", "shard", *[c for c, _ in field_items]]
        for pdf in batches:
            for path in pdf["path"]:
                for rows in _iter_sample_chunks(
                    path, field_items, chunk_rows=chunk_rows, chunk_bytes=chunk_bytes
                ):
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, schema)


def manifest_wds_shards(spark, out_dir: str) -> DataFrame:
    """Integrity manifest of a shard set: one row per tar —
    ``(shard, n_bytes, sha256, n_samples)``. The audit/resume
    companion to the byte-deterministic writers: because same corpus +
    salt + n_shards → byte-identical shards, the sha256 set IS the
    delivery's identity, so a resumed/re-run export, a copy to another
    filesystem, or a months-later training run can verify the shards
    without reading any parquet lineage.

    Distributed like the reader: the driver lists PATHS only; each
    task streams its tar in fixed-size chunks (hash state + one chunk
    in memory — never the shard; a ``binaryFile`` scan would hold
    whole tars and die past 2 GB) and counts samples by member
    adjacency, the same rule ``read_wds_shards`` groups by."""
    import glob as _glob

    paths = sorted(_glob.glob(os.path.join(out_dir, "*.tar")))
    schema = "shard string, n_bytes long, sha256 string, n_samples long"
    if not paths:
        return spark.createDataFrame([], schema)
    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )

    def digest(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                h = hashlib.sha256()
                n_bytes = 0
                with open(path, "rb") as fh:
                    while True:
                        chunk = fh.read(8 << 20)
                        if not chunk:
                            break
                        h.update(chunk)
                        n_bytes += len(chunk)
                # a corrupted/unparseable tar must surface as a manifest
                # row (verify reports it as a mismatch via the hash and
                # the -1 sample sentinel), never crash the audit job
                n_samples = -1
                try:
                    with tarfile.open(path, "r") as tar:
                        n_samples, prev = 0, None
                        for m in tar:
                            if not m.isfile() or "." not in m.name:
                                continue
                            key = m.name.rsplit(".", 1)[0]
                            if key != prev:
                                n_samples += 1
                                prev = key
                except (tarfile.TarError, OSError):
                    pass
                rows.append((os.path.basename(path), n_bytes, h.hexdigest(), n_samples))
            yield pd.DataFrame(
                rows, columns=["shard", "n_bytes", "sha256", "n_samples"]
            )

    return files.mapInPandas(digest, schema)


def write_wds_manifest(spark, out_dir: str) -> str:
    """Persist the manifest as ``_manifest.json`` beside the shards
    (underscore-prefixed: invisible to the ``*.tar`` globs the readers
    use and to Hadoop hidden-path scans). Returns the manifest path.
    Written via tmp+rename like the shards — never torn."""
    rows = manifest_wds_shards(spark, out_dir).orderBy("shard").collect()
    path = os.path.join(out_dir, "_manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            [
                {
                    "shard": r.shard,
                    "n_bytes": r.n_bytes,
                    "sha256": r.sha256,
                    "n_samples": r.n_samples,
                }
                for r in rows
            ],
            fh,
            indent=0,
            sort_keys=True,
        )
    os.replace(tmp, path)
    return path


def verify_wds_shards(spark, out_dir: str) -> DataFrame:
    """Re-hash the shard set and diff it against ``_manifest.json``:
    returns ONLY the discrepancies — ``(shard, problem)`` where problem
    is ``missing`` (in the manifest, no tar), ``unexpected`` (tar not
    in the manifest), or ``mismatch`` (bytes/hash/samples differ). An
    empty result is a verified delivery. The expensive side is the
    same bounded-memory distributed hash as the manifest build; the
    manifest itself is one tiny driver-side JSON read."""
    path = os.path.join(out_dir, "_manifest.json")
    if not os.path.exists(path):
        raise FileNotFoundError(f"no _manifest.json under {out_dir}")
    with open(path) as fh:
        want = {e["shard"]: e for e in json.load(fh)}
    got = {r.shard: r for r in manifest_wds_shards(spark, out_dir).collect()}
    problems = []
    for shard in sorted(set(want) | set(got)):
        if shard not in got:
            problems.append((shard, "missing"))
        elif shard not in want:
            problems.append((shard, "unexpected"))
        else:
            w, g = want[shard], got[shard]
            if (
                w["n_bytes"] != g.n_bytes
                or w["sha256"] != g.sha256
                or w["n_samples"] != g.n_samples
            ):
                problems.append((shard, "mismatch"))
    return spark.createDataFrame(problems, "shard string, problem string")
