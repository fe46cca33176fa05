#!/usr/bin/env python
"""Dump .explain("formatted") for named driver queries into
plans/<round>/<key>_<suffix>.txt (the optimization-round evidence
files).

Usage: python scripts/dump_plans.py <round> <before|after> key [key ...]
       python scripts/dump_plans.py <round> <before|after> --all
       python scripts/dump_plans.py <round> <before|after> --all-bench

--all dumps every registered queries() key. Expression, RDD and plan
ids (#123, RDD[7], plan_id=42) and lambda-variable suffixes (x_12 ->
x) are stripped before writing, so the dumps of two commits compare
with `diff -r`.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_UNSTABLE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\b(lambda [A-Za-z]\w*?)_\d+\b"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
]


def normalize(plan: str) -> str:
    for pattern, repl in _UNSTABLE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    rnd, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]

    import __spark_entry__ as entry
    from fossil_spark.session import get_spark

    spark = get_spark(f"plan-dump-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if keys == ["--all"]:
        keys = sorted(qs)
    elif keys == ["--all-bench"]:
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
                f.write(normalize(buf.getvalue()))
            print(f"wrote {path}")
        except Exception as ex:
            print(f"FAILED {key}: {ex}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
