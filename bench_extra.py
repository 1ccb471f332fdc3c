#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4) — bench.py stays FROZEN for
the driver; this harness times individual registry queries with the
same force() methodology (count + xxhash over every output column so
Catalyst cannot prune the computation), plus an optional noop sink.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
  python bench_extra.py --noop q1        # noop sink instead of force()
  python bench_extra.py --reps 3 q1      # report all reps (first=warm-up)
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")


def main() -> None:
    ap = argparse.ArgumentParser(description="Time registry queries.")
    ap.add_argument("queries", nargs="+", help="registry query names")
    ap.add_argument("--noop", action="store_true",
                    help="noop sink instead of count + xxhash64")
    ap.add_argument("--reps", type=int, default=2,
                    help="runs per query; the first is the warm-up")
    opts = ap.parse_args()
    noop, reps = opts.noop, opts.reps
    from pyspark.sql import functions as F
    from mobilitydb_spark.queries import registry
    from mobilitydb_spark.session import get_spark

    spark = get_spark("mobilitydb-spark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    def force(df):
        cols = [F.col(c) for c in df.columns]
        return df.select(F.count(F.lit(1)).alias("n"),
                         F.bit_xor(F.xxhash64(*cols)).alias("chk")).collect()

    out = {}
    for name in opts.queries:
        fn, _ = reg[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        times = []
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                force(df)
            times.append(round(time.time() - t0, 3))
        out[name] = times
        print(name, times, flush=True)
    print(json.dumps({"sf": os.path.basename(SF_DIR.rstrip('/')),
                      "noop": noop, "times": out}))
    spark.stop()


if __name__ == "__main__":
    main()
