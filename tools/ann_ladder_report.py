"""Measure the three ANN compression rungs at matched knobs — the
numbers behind docs/SCALING.md's "which rung do I pick" table.

For each rung (raw IVF, IVF-SQ8, IVF-PQ) at nprobe in {1, 2, 4} with a
fixed rerank budget: recall@10 against the brute-force ground truth,
averaged over N query vectors drawn from the table itself WITH THE
QUERY'S OWN ROW EXCLUDED from both truth and results (a held-in query
trivially retrieves itself — recall would be floored at 0.1 per query
and overstate low-nprobe quality; review r9), and mean per-query wall
time. The per-vector storage column is arithmetic
(dim x 8B raw doubles vs dim x 1B SQ codes vs m x 1B PQ codes), not a
measurement.

Run: PYTHONPATH=. python tools/ann_ladder_report.py [sf_dir] [n_queries]
Prints one markdown table — paste into docs/SCALING.md when the knobs
or operators change materially.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from kafka_connect_ftp_spark.operators.ann import (
        IvfIndex,
        brute_force_topk,
        build_ivf,
        ivf_search,
    )
    from kafka_connect_ftp_spark.operators.pq import (
        ivf_pq_encode,
        ivf_pq_search,
        train_ivf_pq,
    )
    from kafka_connect_ftp_spark.operators.sq import (
        ivf_sq_search,
        sq_encode,
        train_sq,
    )
    from kafka_connect_ftp_spark.session import get_spark, load_tables

    spark = get_spark("ann_ladder")
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    dim = len(emb.select("embedding").first()[0])

    built = build_ivf(emb, k=16)
    assigned = built.assigned.localCheckpoint(eager=True)
    index = IvfIndex(assigned=assigned, centroids=built.centroids)
    bounds = train_sq(assigned, vec_col="v")
    with_sq = assigned.join(sq_encode(assigned, bounds), "vec_id").localCheckpoint(
        eager=True
    )
    m = 8
    cb = train_ivf_pq(index, m=m, ksub=64)
    with_pq = ivf_pq_encode(index, cb).localCheckpoint(eager=True)

    qrows = emb.orderBy("vec_id").limit(n_queries).collect()
    queries = [list(map(float, r.embedding)) for r in qrows]
    qids = [r.vec_id for r in qrows]
    # self-match excluded: fetch k+1 and drop the query's own id
    truth = [
        [r.vec_id for r in brute_force_topk(emb, q, top_k=11).collect() if r.vec_id != qid][:10]
        for q, qid in zip(queries, qids)
    ]

    def bench(fn):
        recs, secs = [], []
        for q, qid, t in zip(queries, qids, truth):
            t0 = time.time()
            got = [r.vec_id for r in fn(q).collect() if r.vec_id != qid][:10]
            secs.append(time.time() - t0)
            recs.append(len(set(got) & set(t)) / len(t))
        return sum(recs) / len(recs), sum(secs) / len(secs)

    rows = []
    for nprobe in (1, 2, 4):
        raw = bench(lambda q, n=nprobe: ivf_search(index, q, top_k=11, nprobe=n))
        sq = bench(
            lambda q, n=nprobe: ivf_sq_search(
                with_sq, index.centroids, bounds, q, top_k=11, nprobe=n, rerank=100
            )
        )
        pq = bench(
            lambda q, n=nprobe: ivf_pq_search(
                with_pq, index.centroids, cb, q, top_k=11, nprobe=n, rerank=100
            )
        )
        rows.append((nprobe, raw, sq, pq))

    n = emb.count()
    print(f"\nANN ladder @ {sf_dir} ({n} vectors, dim={dim}, 16 cells, "
          f"rerank=100, recall@10 over {n_queries} queries)\n")
    print("| nprobe | raw IVF recall / s | IVF-SQ8 recall / s | IVF-PQ recall / s |")
    print("|---|---|---|---|")
    for nprobe, raw, sq, pq in rows:
        print(
            f"| {nprobe} | {raw[0]:.3f} / {raw[1]:.2f} | "
            f"{sq[0]:.3f} / {sq[1]:.2f} | {pq[0]:.3f} / {pq[1]:.2f} |"
        )
    print(
        f"\nper-vector storage: raw {dim * 8}B (float64) / SQ {dim}B / PQ {m}B"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
