"""Product quantization (PQ): compress embeddings ~16-100x and search
them without decompressing — the memory half of the standard IVF-PQ
design (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) that large-scale vector engines (faiss IVFPQ)
build on. IVF (operators/ann.py) prunes WHICH vectors a query scores;
PQ shrinks WHAT is stored and scanned: at 100 TB of raw float32
vectors, an m=16/ksub=256 code table is ~1.5 TB — the difference
between an index that fits the cluster's page cache and one that
doesn't.

How: split each d-dim vector into ``m`` contiguous ``dsub``-dim
subvectors; quantize each subspace independently against its own
``ksub``-centroid codebook; a vector becomes ``m`` small ints. Search
uses ADC (asymmetric distance computation): the QUERY stays exact, and
its squared distance to each centroid of each subspace is precomputed
into an m x ksub lookup table; a database vector's approximate distance
is then ``sum_j table[j][code_j]`` — m array lookups per row, no float
math against the original vectors at all.

Spark mapping:
- **encode** is a pure map-side projection. Two interchangeable paths:
  ``pq_encode`` folds the centroids into literal arrays and computes
  the per-subspace argmin in JVM expressions (whole-stage codegen; the
  right path up to ~m*ksub = a few hundred distance expressions), and
  ``pq_encode_arrow`` does the same argmin as one BLAS matmul per Arrow
  batch (``||x||² - 2xCᵀ + ||C||²``) for production codebooks
  (ksub=256), where thousands of folded expressions would blow up
  codegen — same result, test-pinned equal.
- **ADC search** broadcasts nothing but an m x ksub literal table and
  is codegen end-to-end: lookups + TakeOrderedAndProject, zero
  shuffle, zero Python (plan-asserted).
- **codebooks**: ``train_pq`` runs one pyspark.ml KMeans per subspace
  (m sequential small fits, once per index build — never per query).
  ``codebook_from_first_ids`` instead takes the subvectors of the
  ``ksub`` smallest ids — a deterministic, SQL-re-derivable codebook,
  which is what lets the oracle-checked ``pq_adc_topk`` plan put the
  ENTIRE encode → ADC → top-k pipeline inside the driver's hash gate
  (same pattern as ann_ivf_label vs ann_ivf_kmeans: deterministic
  stand-in under the gate, trained path pinned by recall tests).
- **IVF-PQ is IVFADC** (Jégou et al. §IV, faiss IVFPQ's default):
  the codebook is trained on, and encodes, the RESIDUAL
  ``x - centroids[cell]`` of each vector against its coarse cell
  (``train_ivf_pq`` / ``ivf_pq_encode``), so the ``ksub`` centroids
  per subspace resolve position INSIDE a cell instead of re-learning the
  cells themselves. A raw-space codebook on a clustered corpus spends
  its centroids on the cluster centres and leaves a whole cell sharing
  a handful of codes, which ADC cannot rank. The coarse centroids are
  shipped once as data, never folded into expressions (k x dim
  literals would not plan at k=4096): training joins a broadcast
  ``(cell, centroid)`` frame and subtracts with ``zip_with``, encoding
  subtracts in numpy inside the Arrow encoder. A ``train_ivf_pq``
  codebook carries the coarse centroids it was fit against
  (``PqCodebook.coarse``); every IVF-PQ entry point REFUSES a raw
  ``train_pq`` codebook, or one fit to another quantizer, instead of
  silently encoding residuals with it.
- **ivf_pq_search** composes the two: probe the nprobe nearest IVF
  cells, rank candidates by ADC, exact-rerank only the top ``rerank``
  — the faiss-style funnel. ADC against residual codes needs one m x
  ksub table per probed cell, built driver-side from the residual
  query ``query - centroids[c]``; the ``nprobe`` tables ride a small
  broadcast ``(cell, table)`` frame joined on ``cell``, so the lookup
  stays m ``element_at`` calls whatever nprobe and ksub are (no Python,
  no shuffle of the scanned rows). At nprobe=k with rerank >=
  candidates it is provably exact (both stages degenerate to
  exhaustive).

Ties: every argmin resolves to the LOWEST centroid index
(``array_position`` returns the first match; the oracle's window rank
orders by (dist, c)), so encoding a vector against a given codebook is
engine- and partitioning-independent. (The TRAINED codebooks of
``train_pq``/``train_ivf_pq`` are KMeans fits, deterministic only for
a fixed seed and input partitioning.)

Flat PQ (``train_pq``, ``pq_encode``, ``pq_encode_arrow``,
``pq_adc_search``, ``codebook_from_*``) stays on raw vectors: there is
no coarse cell to take a residual against.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.operators.ann import (
    cosine_col,
    probe_nearest_cells,
    query_literals,
)


@dataclass
class PqCodebook:
    m: int  # subspaces
    dsub: int  # dims per subspace
    centroids: list[list[list[float]]]  # [m][ksub][dsub]
    # IVFADC: the coarse centroids whose residuals this codebook was fit
    # on (set by train_ivf_pq); None = a raw-space, flat-PQ codebook
    coarse: list[list[float]] | None = None

    @property
    def ksub(self) -> int:
        return len(self.centroids[0])


def _check_dims(dim: int, m: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(f"m must divide the vector dim, got dim={dim} m={m}")
    return dim // m


def codebook_from_first_ids(
    df: DataFrame,
    *,
    m: int,
    ksub: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> PqCodebook:
    """Deterministic codebook: subspace j's centroid c is the j-th
    subvector of the vector with the c-th smallest ``id_col``. A bounded
    ``ksub``-row collect (index-build time, like the KMeans fit it
    stands in for). Exactly re-derivable in SQL — the oracle-gated plan
    depends on that."""
    rows = (
        df.orderBy(id_col)
        .limit(ksub)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    return codebook_from_vectors([r["v"] for r in rows], m=m, ksub=ksub)


def codebook_from_vectors(
    vecs: list, *, m: int, ksub: int
) -> PqCodebook:
    """The ``codebook_from_first_ids`` construction over ALREADY
    COLLECTED vectors (ordered by id): callers that need the same rows
    for something else (e.g. the query vector in the oracle-gated
    ``pq_adc_topk`` plan) can pay ONE bounded collect instead of two
    scans (round 12)."""
    if len(vecs) < ksub:
        raise ValueError(f"need >= {ksub} vectors for ksub={ksub}, got {len(vecs)}")
    dim = len(vecs[0])
    dsub = _check_dims(dim, m)
    cents = [
        [list(v[j * dsub : (j + 1) * dsub]) for v in vecs[:ksub]] for j in range(m)
    ]
    return PqCodebook(m=m, dsub=dsub, centroids=cents)


def train_pq(
    df: DataFrame,
    *,
    m: int,
    ksub: int,
    seed: int = 42,
    vec_col: str = "embedding",
) -> PqCodebook:
    """Production codebook: one KMeans per subspace (m sequential fits
    over the narrow dsub-dim slices; training runs once per index
    build). Deterministic for a fixed seed + input partitioning."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(F.col(vec_col).cast("array<double>")).first()[0])
    dsub = _check_dims(dim, m)
    cents = []
    for j in range(m):
        feats = df.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), j * dsub + 1, dsub)
            ).alias("features")
        )
        model = KMeans(k=ksub, seed=seed + j, featuresCol="features").fit(feats)
        cents.append([list(map(float, c)) for c in model.clusterCenters()])
    return PqCodebook(m=m, dsub=dsub, centroids=cents)


def train_ivf_pq(index, *, m: int, ksub: int, seed: int = 42) -> PqCodebook:
    """The IVFADC codebook of an :class:`~.ann.IvfIndex`: ``train_pq``'s
    per-subspace KMeans over the residuals ``v - centroids[cell]`` of
    ``index.assigned``, marked with the coarse centroids it was fit
    against. It is the only codebook ``ivf_pq_encode``,
    ``write_ivf_pq_index`` and the ``ivf_pq_search*`` funnels accept.
    The residual is a broadcast join of the ``(cell, centroid)`` frame
    plus one ``zip_with`` — the centroids ship once as data.
    Deterministic for a fixed seed + input partitioning, like
    ``train_pq``."""
    spark = index.assigned.sparkSession
    cents = spark.createDataFrame(
        list(enumerate(index.centroids)), "cell int, _c array<double>"
    )
    resid = index.assigned.join(F.broadcast(cents), "cell").select(
        F.zip_with("v", "_c", lambda x, c: x - c).alias("r")
    )
    cb = train_pq(resid, m=m, ksub=ksub, seed=seed, vec_col="r")
    return replace(cb, coarse=index.centroids)


def _check_ivfadc(codebook: PqCodebook, centroids: list[list[float]]) -> None:
    """IVF-PQ codes are residuals: refuse a codebook that
    :func:`train_ivf_pq` did not fit against THESE coarse centroids — a
    raw-space one would rank by ADC without an error and lose recall."""
    if codebook.coarse is None:
        raise ValueError(
            "IVF-PQ needs a residual codebook from train_ivf_pq(index, ...);"
            " got a raw-space (flat PQ) codebook"
        )
    if codebook.coarse is not centroids and codebook.coarse != centroids:
        raise ValueError(
            "the codebook was fit to the residuals of different coarse"
            " centroids than this index's"
        )


def _arr_lit(vals: list[float]) -> str:
    return "array({})".format(", ".join(f"CAST({x!r} AS DOUBLE)" for x in vals))


def _sq_dist(a: str, b: str) -> str:
    # left-to-right fold of (x-y)^2 — the ONE definition of the PQ
    # distance; the oracle embeds the same order so doubles match
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def pq_encode(
    df: DataFrame,
    codebook: PqCodebook,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(vec_id, code array<int>)``: per-subspace nearest-centroid ids,
    as folded JVM expressions (map-side, codegen). Use
    :func:`pq_encode_arrow` for production ksub (see module doc).

    NaN policy (shared with :func:`pq_encode_arrow`): a NULL vector or a
    NaN/NULL element raises at execution time. Without the guard the two
    encode paths would silently diverge — array_min/array_position yield
    a NULL code on NaN distances while numpy argmin picks a real index —
    and a NULL code would NULL the ADC distance, silently dropping the
    row from the ascending top-k."""
    dsub, m = codebook.dsub, codebook.m
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "v",
        F.when(
            F.expr("v is null or exists(v, x -> x is null or isnan(x))"),
            F.raise_error(F.lit("pq_encode: NULL vector or NaN/NULL element")),
        ).otherwise(F.col("v")),
    )
    codes = []
    for j in range(m):
        sub = f"slice(v, {j * dsub + 1}, {dsub})"
        dists = "array({})".format(
            ", ".join(_sq_dist(sub, _arr_lit(c)) for c in codebook.centroids[j])
        )
        # first-match argmin = lowest centroid index on ties
        codes.append(
            F.expr(f"array_position({dists}, array_min({dists}))").cast("int") - 1
        )
    return base.select("vec_id", F.array(*codes).alias("code"))


def pq_encode_arrow(
    df: DataFrame,
    codebook: PqCodebook,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Same output as :func:`pq_encode` (+ any ``passthrough`` columns
    carried verbatim; ``v`` there is the encoded vector itself), argmin
    as one BLAS matmul per Arrow batch per subspace — the path for ksub
    in the hundreds, where m*ksub folded expressions would overwhelm
    codegen. numpy argmin returns the first minimum, preserving the
    lowest-index tie rule. ``passthrough`` is what lets the index
    writer keep the cell id alongside the code in ONE map-side pass
    instead of re-joining on vec_id afterwards.

    NaN policy: identical to :func:`pq_encode` — NULL vectors / NaN or
    NULL elements raise (numpy coerces None to NaN, so one isnan check
    covers both), keeping the two test-pinned-equal paths equal on bad
    input too."""
    return _encode_arrow(df, codebook, vec_col, id_col, passthrough, coarse=None)


def _encode_arrow(df, codebook, vec_col, id_col, passthrough, coarse):
    """:func:`pq_encode_arrow`'s body; with ``coarse`` (IVFADC, ``cell``
    in ``passthrough``) each vector is encoded as its residual
    ``v - coarse[cell]``, subtracted in numpy so the centroids ship
    once, in the closure."""
    cents = [[list(c) for c in sub] for sub in codebook.centroids]
    m, dsub = codebook.m, codebook.dsub
    extra = list(passthrough)

    def encode(batches):
        import numpy as np
        import pandas as pd

        cb = [np.asarray(sub, dtype=np.float64) for sub in cents]  # [m](ksub, dsub)
        cb_sq = [np.sum(c * c, axis=1) for c in cb]
        ctr = None if coarse is None else np.asarray(coarse, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf["v"].isna().any():
                raise ValueError("pq_encode_arrow: NULL vector")
            x = np.asarray(pdf["v"].tolist(), dtype=np.float64)  # (n, d)
            if np.isnan(x).any():
                raise ValueError("pq_encode_arrow: NaN/NULL vector element")
            if ctr is not None:
                x = x - ctr[pdf["cell"].to_numpy()]
            out = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # ||x-c||² = ||x||² - 2xCᵀ + ||c||²; ||x||² is constant
                # per row and never changes the argmin — dropped
                d = cb_sq[j][None, :] - 2.0 * (sub @ cb[j].T)
                out[:, j] = np.argmin(d, axis=1)
            cols = {"vec_id": pdf["vec_id"], "code": list(out)}
            cols.update({c: pdf[c] for c in extra})
            yield pd.DataFrame(cols)

    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        *(c for c in extra if c != "v"),
    )
    fields = [f"vec_id {base.schema['vec_id'].dataType.simpleString()}", "code array<int>"]
    fields += [f"{c} {base.schema[c].dataType.simpleString()}" for c in extra]
    return base.mapInPandas(encode, ", ".join(fields))


def ivf_pq_encode(
    index, codebook: PqCodebook, *, keep_vectors: bool = True
) -> DataFrame:
    """The IVFADC encoding of an :class:`~.ann.IvfIndex`:
    ``(vec_id, code, v, cell)``, where ``code`` encodes the residual
    ``v - centroids[cell]`` against a :func:`train_ivf_pq` codebook (any
    other raises) — the frame ``ivf_pq_search`` takes. ONE map-side
    pass through the BLAS Arrow encoder, which subtracts the cell's
    centroid in numpy and lets ``v`` and ``cell`` ride through.
    ``keep_vectors=False`` drops ``v`` from the output (``(vec_id,
    code, cell)``): the index writer's codes table never reads it."""
    _check_ivfadc(codebook, index.centroids)
    extra = ("v", "cell") if keep_vectors else ("cell",)
    return _encode_arrow(
        index.assigned, codebook, "v", "vec_id", extra, coarse=index.centroids
    )


def adc_table(codebook: PqCodebook, query: list[float]) -> list[list[float]]:
    """The m x ksub squared-distance lookup table for one query —
    computed left-to-right like :func:`_sq_dist` so driver floats equal
    plan floats."""
    dsub = codebook.dsub
    if len(query) != codebook.m * dsub:
        raise ValueError(
            f"query dim {len(query)} != m*dsub = {codebook.m * dsub}"
        )
    out = []
    for j, sub in enumerate(codebook.centroids):
        q = query[j * dsub : (j + 1) * dsub]
        row = []
        for c in sub:
            acc = 0.0
            for x, y in zip(q, c):
                acc += (x - y) * (x - y)
            row.append(acc)
        out.append(row)
    return out


def _adc_sum(m: int, table_j, code_col: str) -> Column:
    """``sum_j table_j(j)[code_j]`` left to right — THE ADC lookup;
    ``table_j(j)`` is subspace j's ksub-array as a column."""
    dist = None
    for j in range(m):
        term = F.element_at(table_j(j), F.element_at(code_col, j + 1) + 1)
        dist = term if dist is None else dist + term
    return dist


def adc_dist_col(codebook: PqCodebook, query: list[float], code_col: str = "code") -> Column:
    """The ADC approximate squared distance as a pure column expression:
    m constant-array lookups summed — no Python, no join, no shuffle."""
    table = adc_table(codebook, query)
    return _adc_sum(codebook.m, lambda j: F.expr(_arr_lit(table[j])), code_col)


def ivf_adc_scored(
    frame: DataFrame,
    codebook: PqCodebook,
    centroids: list[list[float]],
    probe: list[int],
    query: list[float],
) -> DataFrame:
    """The rows of ``frame`` (residual ``code`` + ``cell``) in the
    probed cells, with their IVFADC approximate squared distance
    ``_adc``: ADC against the table of the residual query
    ``query - centroids[c]`` of the row's cell c. The ``nprobe`` m x
    ksub tables are data — one small ``(cell, table)`` frame, broadcast
    and joined on ``cell`` — so the lookup is m ``element_at`` calls
    however large nprobe and ksub are; no Python, no shuffle of
    ``frame``. (Literal tables do not scale: a CASE over nprobe literal
    tables fails codegen at m=16, ksub=256, nprobe=16, and even one
    constant-folded array literal is printed into every rendering of
    the plan — 20 MB there.) Refuses a codebook :func:`train_ivf_pq`
    did not fit to ``centroids``."""
    _check_ivfadc(codebook, centroids)
    tables = frame.sparkSession.createDataFrame(
        [
            # strict: a query of the wrong dim raises instead of truncating
            (c, adc_table(codebook, [q - x for q, x in zip(query, centroids[c], strict=True)]))
            for c in probe
        ],
        "cell int, _t array<array<double>>",
    )
    return (
        frame.filter(F.col("cell").isin(probe))
        .join(F.broadcast(tables), "cell")
        .withColumn("_adc", _adc_sum(codebook.m, lambda j: F.element_at("_t", j + 1), "code"))
        .drop("_t")
    )


def pq_adc_search(
    encoded: DataFrame,
    codebook: PqCodebook,
    query: list[float],
    *,
    top_k: int = 10,
) -> DataFrame:
    """Top-k by ADC distance over a ``(vec_id, code)`` frame:
    ``(vec_id, adc_dist)`` ascending, vec_id tie-break. Map-side lookup
    + TakeOrderedAndProject — the whole search touches only the code
    table, never the original vectors."""
    return (
        encoded.select(
            "vec_id", adc_dist_col(codebook, query).alias("adc_dist")
        )
        .orderBy("adc_dist", "vec_id")
        .limit(top_k)
    )


def ivf_pq_search(
    assigned_encoded: DataFrame,
    centroids: list[list[float]],
    codebook: PqCodebook,
    query: list[float],
    *,
    top_k: int = 10,
    nprobe: int = 2,
    rerank: int = 100,
) -> DataFrame:
    """The faiss-style IVF-PQ funnel over a ``(vec_id, v, cell, code)``
    frame (:func:`ivf_pq_encode` of an :class:`~.ann.IvfIndex`, whose
    codes are RESIDUALS against a ``train_ivf_pq`` codebook): probe the
    ``nprobe`` nearest cells, rank candidates by IVFADC (codes only,
    one residual-query ADC table per probed cell —
    :func:`ivf_adc_scored`), exact-rerank the best ``rerank`` by true
    cosine. Returns ``(vec_id, cell, cos_sim)`` best-first. At nprobe =
    n_cells and rerank >= the candidate count this is provably exact — the
    regime the equality test pins; production trades both knobs for
    scan volume. Probe selection and the NaN-guarded cosine are the
    SHARED ann.py helpers, so the funnel can never drift from
    ``ivf_search``."""
    probe = probe_nearest_cells(centroids, query, nprobe)
    shortlist = (
        ivf_adc_scored(assigned_encoded, codebook, centroids, probe, query)
        .select("vec_id", "v", "cell", "_adc")
        .orderBy("_adc", "vec_id")
        .limit(rerank)
    )
    q_arr, qnorm = query_literals(query)
    return (
        shortlist.withColumn("qv", q_arr)
        .select(
            "vec_id", "cell", cosine_col("v", "qv", qnorm=qnorm).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(top_k)
    )


def write_ivf_pq_index(index, codebook: PqCodebook, path: str) -> None:
    """Materialize the IVF-PQ index as TWO cell-partitioned parquet
    tables under ``path`` plus a JSON meta sidecar:

    - ``codes/``: ``(vec_id, code)`` partitioned by ``cell`` — the
      residual codes of :func:`ivf_pq_encode` (``codebook`` comes from
      ``train_ivf_pq``), the narrow table the ADC phase scans. Keeping
      the codes PHYSICALLY separate from the vectors (not just a column
      next to them) is the point: the ADC scan's I/O is the
      ~16-100x-compressed codes and nothing else, and nprobe turns into
      partition pruning exactly as in ``ann.write_ivf_index``.
    - ``vectors/``: ``(vec_id, v)`` partitioned by ``cell`` — read only
      by the exact-rerank phase, which joins the tiny ADC shortlist
      back against the probed cells' vectors.

    ``index`` is an :class:`~.ann.IvfIndex`; encoding uses the BLAS
    Arrow path (production codebook sizes); a codebook that is not
    ``train_ivf_pq``'s for this index raises before anything is
    written. The sidecar carries the coarse centroids beside the
    codebook, and ``by_residual``: a search needs the centroids to
    build its per-cell residual ADC tables, and an index without the
    mark (raw-space codes) opens with an unmarked codebook, which every
    search refuses. It is written THROUGH Spark like ann.py's, so
    distributed filesystems work."""
    import json

    # cell rides THROUGH the encode pass — a vec_id re-join of the codes
    # against the assigned frame would shuffle the whole corpus twice
    # for a column the mapper already had in hand
    codes = ivf_pq_encode(index, codebook, keep_vectors=False)
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    index.assigned.select("vec_id", "v", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/vectors")
    spark = index.assigned.sparkSession
    meta = json.dumps(
        {
            "centroids": index.centroids,
            "m": codebook.m,
            "dsub": codebook.dsub,
            "codebook": codebook.centroids,
            "by_residual": True,
        }
    )
    spark.createDataFrame([(meta,)], "c string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{path}/_meta")


def read_ivf_pq_index(spark, path: str):
    """Open a materialized index: ``(codes_df, vectors_df, centroids,
    codebook)``. Both frames are the partitioned tables — searches over
    them prune to the probed cells."""
    import json

    meta = json.loads(spark.read.text(f"{path}/_meta").first().value)
    codebook = PqCodebook(
        m=meta["m"],
        dsub=meta["dsub"],
        centroids=meta["codebook"],
        coarse=meta["centroids"] if meta.get("by_residual") else None,
    )
    codes = spark.read.parquet(f"{path}/codes").select("vec_id", "code", "cell")
    vectors = spark.read.parquet(f"{path}/vectors").select("vec_id", "v", "cell")
    return codes, vectors, meta["centroids"], codebook


def ivf_pq_search_indexed(
    codes: DataFrame,
    vectors: DataFrame,
    centroids: list[list[float]],
    codebook: PqCodebook,
    query: list[float],
    *,
    top_k: int = 10,
    nprobe: int = 2,
    rerank: int = 100,
) -> DataFrame:
    """The funnel over a materialized index (``write_ivf_pq_index``
    layout): phase 1 scans ONLY the codes table of the probed cells
    (partition-pruned, vector-free — the compressed-scan win PQ exists
    for) and takes the ``rerank``-row IVFADC shortlist, ranked against
    one residual-query table per probed cell
    (:func:`ivf_adc_scored`); phase 2 joins that
    tiny shortlist (broadcast) against the probed cells' vectors for
    the exact cosine top-k. Same result as :func:`ivf_pq_search` over
    the equivalent in-memory frame (test-pinned); the in-memory variant
    reads vectors alongside codes in one pass, which is fine for an
    already-materialized narrow frame but wastes scan I/O on a 100 TB
    on-disk index."""
    probe = probe_nearest_cells(centroids, query, nprobe)
    shortlist = (
        ivf_adc_scored(codes, codebook, centroids, probe, query)
        .select("vec_id", "_adc")
        .orderBy("_adc", "vec_id")
        .limit(rerank)
        .select("vec_id")
    )
    cand = vectors.filter(F.col("cell").isin(probe)).join(
        F.broadcast(shortlist), "vec_id", "left_semi"
    )
    q_arr, qnorm = query_literals(query)
    return (
        cand.withColumn("qv", q_arr)
        .select(
            "vec_id", "cell", cosine_col("v", "qv", qnorm=qnorm).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(top_k)
    )
