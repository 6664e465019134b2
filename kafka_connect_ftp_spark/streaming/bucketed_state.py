"""Shared bucketed external state tables for the streaming dedup
stages (round 12): ONE implementation of the
"epoch-partitioned EXTERNAL table CLUSTERED BY the join key" pattern
that round 11 built for the span-hash state
(streaming/span_dedup_stream.py), now also backing the near-dup band
state (streaming/neardup_stream.py) — previously the band state's own
module doc prescribed bucketing on (band, bsig) at 100 TB but only the
plain epoch-dir layout existed.

Why bucket state at all: the per-batch collision check joins a SMALL
micro-batch frame against the WHOLE accumulated state. Plain parquet
state makes that a shuffle of both sides every batch — per-batch cost
grows with history. A table CLUSTERED BY the join key INTO N BUCKETS
reports its hash partitioning to Catalyst, so the anti/semi-join reads
the state bucket-aligned with NO state-side Exchange; only the
micro-batch's own frame shuffles into alignment, however large the
state grows (plan-pinned in tests; measured for the span state at a
20M-hash state: plain 2.0-4.9 s/batch growing, bucketed steady
1.6-1.7 s/batch — docs/SCALING.md).

Mechanics shared by every user (all MEASURED round 11, span state):

- **Static-partition INSERT OVERWRITE**: ``insertInto`` ignores the
  per-write ``partitionOverwriteMode=dynamic`` option in this Spark
  build and the session default is STATIC — a plain overwrite insert
  would WIPE every other epoch on a crash replay. The explicit
  ``PARTITION (epoch=N)`` spec targets exactly one partition
  regardless of that conf.
- **Session-scoped temp views**: inside a real foreachBatch the
  micro-batch frame belongs to a CLONED session; the view + INSERT
  must run on the frame's own session or every batch fails with
  TABLE_OR_VIEW_NOT_FOUND (round 12). Catalog TABLES are shared
  across clones, so table creation is session-agnostic.
- **Re-registration**: a new session's empty catalog re-creates the
  table over the existing files; CREATE TABLE over a LOCATION does
  not discover partitions — MSCK REPAIR does.
- **Markers**: ``BUCKETS`` pins the bucket count (a different count
  would silently mis-bucket the join); ``STATE_SPEC`` pins the
  schema/clustering (so a band-state dir cannot be reopened as a
  span state, and the epoch compactor can rebuild the table without
  being told which kind it is).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKETS_MARKER = "BUCKETS"
_SPEC_MARKER = "STATE_SPEC"


@dataclass(frozen=True)
class StateSpec:
    """What a bucketed state table stores and clusters on. ``columns``
    is ``((name, ddl_type), ...)`` EXCLUDING the epoch partition
    column; ``bucket_cols`` must be a subset of the column names (the
    join keys)."""

    prefix: str
    columns: tuple[tuple[str, str], ...]
    bucket_cols: tuple[str, ...]

    @property
    def cols_ddl(self) -> str:
        return ", ".join(f"{n} {t}" for n, t in self.columns)

    @property
    def col_names(self) -> tuple[str, ...]:
        return tuple(n for n, _ in self.columns)


SPAN_SPEC = StateSpec("span_state", (("h", "BIGINT"),), ("h",))


def band_spec(id_type_ddl: str) -> StateSpec:
    """Band-state spec for a given id column DDL type — the id rides
    the state rows (admitted-doc provenance) but clustering is on the
    collision key (band, bsig) the semi-join probes."""
    return StateSpec(
        "band_state",
        (("doc_id", id_type_ddl), ("band", "INT"), ("bsig", "BIGINT")),
        ("band", "bsig"),
    )


def table_name(spec: StateSpec, state_dir: str) -> str:
    import hashlib

    digest = hashlib.md5(state_dir.encode()).hexdigest()[:10]
    return f"{spec.prefix}_{digest}"


def _read_marker(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read().strip()


def _write_marker(path: str, content: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(content)
    os.replace(tmp, path)


def load_spec(state_dir: str) -> StateSpec | None:
    """The spec a bucketed state dir was created with, or None for a
    dir without the ``STATE_SPEC`` marker."""
    raw = _read_marker(os.path.join(state_dir, _SPEC_MARKER))
    if raw is None:
        return None
    d = json.loads(raw)
    return StateSpec(
        d["prefix"],
        tuple((n, t) for n, t in d["columns"]),
        tuple(d["bucket_cols"]),
    )


def is_bucketed_dir(state_dir: str) -> bool:
    return os.path.exists(os.path.join(state_dir, _BUCKETS_MARKER))


def ensure_table(spark, state_dir: str, buckets: int, spec: StateSpec) -> str:
    """Create-or-re-register the EXTERNAL bucketed state table (module
    doc): data under ``state_dir/bucketed``, catalog entry disposable,
    markers pinning bucket count and spec."""
    if "'" in state_dir:
        raise ValueError(
            f"state_dir must not contain a single quote: {state_dir!r} "
            "(it is interpolated into a CREATE TABLE LOCATION clause)"
        )
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    os.makedirs(state_dir, exist_ok=True)
    marker = os.path.join(state_dir, _BUCKETS_MARKER)
    recorded = _read_marker(marker)
    pre_existing = recorded is not None
    if recorded is not None:
        if int(recorded) != buckets:
            raise ValueError(
                f"state at {state_dir} was written with buckets="
                f"{int(recorded)}; reopening with buckets={buckets} would "
                "mis-bucket the anti-join — pass the recorded count"
            )
    else:
        if any(e.startswith("epoch=") for e in os.listdir(state_dir)):
            raise ValueError(
                f"state at {state_dir} holds PLAIN-mode epoch dirs; a "
                "bucketed table over them would read unbucketed files "
                "as bucketed and return wrong joins — use a fresh dir"
            )
        # root-level DATA files = a FLAT-layout plain state. Writing
        # markers over it would create an empty bucketed table BESIDE
        # the flat files — every previously admitted key silently
        # invisible, near-dups of admitted docs re-admitted (review
        # r12) — so the bucketed path refuses them.
        flat = [
            e
            for e in os.listdir(state_dir)
            if e[:1] not in ("_", ".")
            # both markers excluded: a crash after the SPEC write but
            # before the BUCKETS write leaves a SPEC-only dir whose
            # reopen lands here and must not read its own marker as a
            # flat data file
            and e not in (_BUCKETS_MARKER, _SPEC_MARKER)
            and os.path.isfile(os.path.join(state_dir, e))
        ]
        if flat:
            raise ValueError(
                f"state at {state_dir} holds FLAT-layout plain state "
                f"files ({flat[:3]}...); a bucketed table beside them "
                "would silently ignore every accumulated key — use a "
                "fresh dir"
            )
    stored = load_spec(state_dir)
    if stored is not None and stored != spec:
        raise ValueError(
            f"state at {state_dir} was created as {stored.prefix} "
            f"({stored.cols_ddl}); reopening as {spec.prefix} "
            f"({spec.cols_ddl}) would silently mis-join — wrong state "
            "dir or wrong id column type"
        )
    if stored is None:
        _write_marker(
            os.path.join(state_dir, _SPEC_MARKER),
            json.dumps(
                {
                    "prefix": spec.prefix,
                    "columns": [list(c) for c in spec.columns],
                    "bucket_cols": list(spec.bucket_cols),
                }
            ),
        )
    if not pre_existing:
        # BUCKETS is written AFTER STATE_SPEC (review r12): a crash
        # between the two leaves a SPEC-only dir, which re-opens
        # correctly and still gets the spec check above
        _write_marker(marker, str(buckets))
    name = table_name(spec, state_dir)
    if not spark.catalog.tableExists(name):
        data_dir = os.path.join(state_dir, "bucketed")
        # MSCK (and some listing paths) fail on a LOCATION that does
        # not exist yet — the genuine first batch creates it empty
        os.makedirs(data_dir, exist_ok=True)
        spark.sql(
            f"CREATE TABLE {name} ({spec.cols_ddl}, epoch INT) USING parquet "
            f"PARTITIONED BY (epoch) "
            f"CLUSTERED BY ({', '.join(spec.bucket_cols)}) "
            f"INTO {buckets} BUCKETS LOCATION '{data_dir}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {name}")
    return name


def read_table(spark, state_dir: str, buckets: int, spec: StateSpec) -> DataFrame:
    """The state as a DataFrame (epoch column included)."""
    return spark.table(ensure_table(spark, state_dir, buckets, spec))


def write_epoch(
    spark,
    rows: DataFrame,
    state_dir: str,
    epoch: int,
    buckets: int,
    spec: StateSpec,
) -> None:
    """OVERWRITE one batch's rows into its own epoch partition (module
    doc: static-partition INSERT, own-session view, bucket-aligned
    pre-repartition so each writer task emits one file per bucket)."""
    sess = rows.sparkSession
    name = ensure_table(sess, state_dir, buckets, spec)
    view = f"_{name}_admit"
    rows.select(
        *[F.col(n).cast(t).alias(n) for n, t in spec.columns]
    ).repartition(buckets, *[F.col(c) for c in spec.bucket_cols]).createOrReplaceTempView(
        view
    )
    sess.sql(
        f"INSERT OVERWRITE TABLE {name} PARTITION (epoch={int(epoch)}) "
        f"SELECT {', '.join(spec.col_names)} FROM {view}"
    )
    sess.catalog.dropTempView(view)
