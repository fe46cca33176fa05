#!/usr/bin/env python
"""Time run1 (cold) vs run2 (memo-warm) vs run2-after-invalidate for
named keys in one fresh session — separates cold query cost from
memo-read cost (r13 verdict #1 adjudication)."""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    keys = sys.argv[1:]
    import __spark_entry__ as entry
    import bench
    from fossil_spark.session import get_spark

    spark = get_spark("cold-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sf_dir = bench.prep_multirg(spark, SF)

    # session warmup on an untouched cheap key
    bench.force(qs["fql_filter"](spark, sf_dir))

    print(f"{'key':32s} {'cold1':>7s} {'warm2':>7s} {'cold2':>7s}")
    for key in keys:
        bench.clear_session_memos()
        t0 = time.perf_counter()
        bench.force(qs[key](spark, sf_dir))
        c1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        bench.force(qs[key](spark, sf_dir))
        w2 = time.perf_counter() - t0
        bench.clear_session_memos()
        t0 = time.perf_counter()
        bench.force(qs[key](spark, sf_dir))
        c2 = time.perf_counter() - t0
        print(f"{key:32s} {c1:7.2f} {w2:7.2f} {c2:7.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
