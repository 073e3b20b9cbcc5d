"""Full-evaluation companion to bench.py for projection-class queries.

bench.py times every query through ``count(*)`` — kept that way for
round-over-round comparability — which lets Catalyst prune pure
projections down to a row count. This harness forces evaluation of
EVERY output column (xxhash64 over a struct of all columns, folded to
one sum), so zero-shuffle gate/feature queries are measured doing
their actual expression work. Run on demand; its one-line JSON is
recorded in BASELINE.md, not consumed by the driver.

Usage: python tools/fulleval_bench.py [sf_dir] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# projection-class registry entries (zero/near-zero-shuffle feature
# and gate queries whose bench.py rows are scan-bound)
QUERIES = [
    "ta_quality",
    "ta_lang_id",
    "ta_token_count",
    "ta_fingerprint",
    "ta_gopher_rules",
    "ta_c4_rules",
    "ta_pii_redact",
    "ta_normalize",
    "ta_hash_score",
    "hx_main_content",
    "hx_url_canonicalize",
    "ct_chunk_tokens",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = sys.argv[2] if len(sys.argv) > 2 else os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from handprint_spark.session import get_spark

    spark = get_spark(app_name="handprint-fulleval", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()

    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in QUERIES:
            df = registry[name](spark, sf_dir)
            t0 = time.perf_counter()
            # bit_xor fold: forces every column's evaluation per row
            # and cannot overflow under ANSI mode (sum of hashes does)
            df.select(
                F.expr("bit_xor(xxhash64(struct(*)))").alias("h")
            ).collect()
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    load1, _, _ = os.getloadavg()
    print(
        json.dumps(
            {
                "metric": "full-evaluation projection bench (xxhash64 all columns)",
                "unit": "sec",
                "queries": timings,
                "sf_dir": sf_dir,
                "cpus": int(cpus),
                "loadavg_1m_at_end": round(load1, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
