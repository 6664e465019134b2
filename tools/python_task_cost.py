"""Fixed cost of one small stage, JVM-only against Python, on a warm session.

A poll tick over a small delta is bound by per-stage fixed costs, not by
bytes (``docs/SCALING.md``, "Fixed costs per poll tick"). This tool times
one 1-partition stage over 74 rows, a busy tick's changed-file count, in
four forms:

- ``jvm``: a JVM-only job (a ``noop`` write of the Arrow-built frame);
- ``rdd.map``: an identity ``rdd.map`` and ``count``;
- ``mapInArrow`` and ``mapInPandas``: an identity function, written to
  ``noop``.

Each form runs ``--warmup`` untimed times and then ``--reps`` timed
times, interleaved, so a reused Python worker serves every timed
Python stage. It prints one line per form with the median and the
quartiles, in ms.

Run from the repository root: ``python tools/python_task_cost.py [--reps 12]``
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from kafka_connect_ftp_spark.ingest.model import META_ARROW_SCHEMA, META_SCHEMA, local_frame  # noqa: E402
from kafka_connect_ftp_spark.session import get_spark  # noqa: E402

ROWS = 74


def _identity(batches):
    yield from batches


def stages(spark):
    """name -> a function that runs one 1-partition stage over ROWS rows."""
    df = local_frame(spark, META_SCHEMA, pa.Table.from_pydict({
        "path": [f"/tree/d{i % 50}/f{i}.log" for i in range(ROWS)],
        "size": [4096 * (i + 1) for i in range(ROWS)],
        "modification_time": [1_717_243_200_000_000 + i for i in range(ROWS)],
    }, schema=META_ARROW_SCHEMA)).coalesce(1)
    return {
        "jvm": lambda: df.write.format("noop").mode("overwrite").save(),
        "rdd.map": lambda: df.rdd.map(lambda row: row).count(),
        "mapInArrow": lambda: df.mapInArrow(_identity, df.schema)
        .write.format("noop").mode("overwrite").save(),
        "mapInPandas": lambda: df.mapInPandas(_identity, df.schema)
        .write.format("noop").mode("overwrite").save(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=12, help="timed runs per form")
    ap.add_argument("--warmup", type=int, default=3, help="untimed runs per form first")
    args = ap.parse_args(argv)

    spark = get_spark("python_task_cost")
    run = stages(spark)
    times: dict[str, list[float]] = {name: [] for name in run}
    for i in range(args.warmup + args.reps):
        for name, fn in run.items():
            t0 = time.perf_counter()
            fn()
            if i >= args.warmup:
                times[name].append((time.perf_counter() - t0) * 1000)
    cpus = spark.sparkContext.defaultParallelism
    print(f"1-partition stage over {ROWS} rows, local[{cpus}], {args.reps} runs, ms:")
    for name, ts in times.items():
        q1, med, q3 = statistics.quantiles(ts, n=4)
        print(f"{name:12s} median {med:6.0f}  quartiles {q1:.0f}–{q3:.0f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
