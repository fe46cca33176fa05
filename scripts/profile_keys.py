#!/usr/bin/env python
"""Per-key phase profile: split a driver query's wall time into
(a) DataFrame construction (Python + analysis), (b) planning
(explain cost = Catalyst optimize + physical planning), and
(c) execution (noop sink), min-of-N, with the session result catalog
emptied before every run so each reading is memo-cold. Isolates where
an sf0.1 key's seconds actually go — tiny-data keys are often
planner/overhead-bound, which changes what's worth optimizing.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/profile_keys.py key [key ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("PROFILE_RUNS", "2"))


def main() -> int:
    keys = sys.argv[1:]
    import __spark_entry__ as entry
    import bench

    from fossil_spark.session import get_spark

    spark = get_spark("profile-keys")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sf_dir = bench.prep_multirg(spark, SF)

    # warmup: run the first key once to absorb session/codegen startup
    try:
        bench.force(qs[keys[0]](spark, sf_dir))
    except Exception as ex:
        print(f"warmup failed: {ex}", file=sys.stderr)

    print(f"{'key':32s} {'build':>7s} {'plan':>7s} {'exec':>7s} {'total':>7s}")
    for key in keys:
        try:
            b_best = p_best = e_best = float("inf")
            for _ in range(RUNS):
                bench.clear_session_memos()
                t0 = time.perf_counter()
                df = qs[key](spark, sf_dir)
                t1 = time.perf_counter()
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                t2 = time.perf_counter()
                bench.force(df)
                t3 = time.perf_counter()
                b_best = min(b_best, t1 - t0)
                p_best = min(p_best, t2 - t1)
                e_best = min(e_best, t3 - t2)
            print(
                f"{key:32s} {b_best:7.2f} {p_best:7.2f} {e_best:7.2f}"
                f" {b_best + p_best + e_best:7.2f}"
            )
        except Exception as ex:
            print(f"{key:32s} FAILED {type(ex).__name__}: {ex}"[:160])
        sys.stdout.flush()
        # mirror bench.py: drop dead DataFrame refs so ContextCleaner
        # frees their localCheckpoint blocks — without this, LATE keys
        # in a long profile inflate up to 10x (block-manager churn)
        import gc

        gc.collect()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
