#!/usr/bin/env python
"""Dump .explain("formatted") for named driver queries into
plans/<round>/<key>_<suffix>.txt (the optimization-round evidence
files).

Usage: python scripts/dump_plans.py <round> <before|after> key [key ...]
       python scripts/dump_plans.py <round> <before|after> --all-bench
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    rnd, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]

    import __spark_entry__ as entry
    from fossil_spark.session import get_spark

    spark = get_spark(f"plan-dump-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if keys == ["--all-bench"]:
        import bench
        keys = [k for k in bench.HEAVY_ISOLATED if k in qs]

    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        try:
            df = qs[key](spark, SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{key}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as ex:
            print(f"FAILED {key}: {ex}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
