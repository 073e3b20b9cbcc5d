"""Per-query timing probe: run one registered query N times in one
session, print all samples + min/median, and each sample's JVM JIT
compile milliseconds beside its wall time. Usage:

    python tools/qtime.py <query> [<query> ...] [--n 5] [--sf DIR]

The sandbox host shows bursty noisy-neighbor load; min-of-N in a warm
session is the steady-state signal single bench runs can't give, and
the jit_ms list shows how much of each sample was still compilation.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as entry
    from handprint_spark.session import get_spark, jvm_time_ms

    spark = get_spark(app_name="qtime")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    # warm JVM + python workers
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000, numPartitions=32).select(F.sum(_warm("id"))).collect()

    for name in args.queries:
        samples, jit = [], []
        for _ in range(args.n):
            jit0 = jvm_time_ms(spark)[0]
            t0 = time.perf_counter()
            qs[name](spark, args.sf).selectExpr("count(*)").collect()
            samples.append(round(time.perf_counter() - t0, 3))
            jit.append(jvm_time_ms(spark)[0] - jit0)
        print(
            f"{name}: min={min(samples)} median={statistics.median(samples)} "
            f"samples={samples} jit_ms={jit}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
