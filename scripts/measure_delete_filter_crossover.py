"""Measure where the literal delete filter stops paying.

read_with_deletes (and read_version, read_keys and read_where through
the pending delete batches) applies a delete-key batch either as a
parsed literal ``key IS NULL OR NOT key IN (...)`` filter or as a
broadcast anti-join of a Spark read of the batch.
``io._DELETES_LITERAL_MAX`` picks between them by the batch's row
count. This script times a read plus a full aggregate on both paths at
a range of key counts, so the bound can sit at the crossover.

Usage: PYTHONPATH=. python scripts/measure_delete_filter_crossover.py
           [rows] [key counts, comma-separated] [reps]
Defaults: 200000 rows, 10,1000,3000,5000,10000,30000,100000 keys, 5
reps. Prints one line per key count: the median wall of each path and
the part of it spent building the DataFrame (planning).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from engage_spark import io, versioning
    from engage_spark.session import get_spark

    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    counts = (
        [int(x) for x in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [10, 1000, 3000, 5000, 10000, 30000, 100000]
    )
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark("measure-delete-filter")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp()

    def orders(n: int):
        ids = spark.range(0, n)
        return ids.select(
            F.col("id").alias("o_orderkey"),
            ((F.col("id") * 7919) % 300).alias("o_custkey"),
            ((F.col("id") * 37) % 1000 / 10.0).alias("o_totalprice"),
        )

    def timed(path: str):
        t = time.perf_counter()
        df = io.read_with_deletes(spark, path)
        planned = time.perf_counter() - t
        n = df.agg(F.count("*"), F.sum("o_totalprice")).collect()[0][0]
        return time.perf_counter() - t, planned, n

    bound = io._DELETES_LITERAL_MAX
    try:
        for k in (k for k in counts if k < rows):
            path = f"{work}/t{k}"
            io.zorder_write(
                spark, orders(rows), path, ["o_orderkey", "o_custkey"],
                num_files=8,
            )
            versioning.version_log_enable(spark, path)
            step = rows // k
            io.delete_rows(
                spark, path, list(range(0, step * k, step)), "o_orderkey"
            )
            res = {}
            for mode, cap in (("literal", rows), ("broadcast", 0)):
                io._DELETES_LITERAL_MAX = cap
                timed(path)  # warm
                ts = [timed(path) for _ in range(reps)]
                assert {t[2] for t in ts} == {rows - k}, ts
                res[mode] = [
                    statistics.median(t[i] for t in ts) for i in (0, 1)
                ]
            print(
                f"rows={rows} keys={k}: "
                + " ".join(
                    f"{m} {w * 1000:.0f} ms (plan {p * 1000:.0f})"
                    for m, (w, p) in res.items()
                ),
                flush=True,
            )
            shutil.rmtree(path, ignore_errors=True)
    finally:
        io._DELETES_LITERAL_MAX = bound
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
