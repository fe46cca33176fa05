"""The batch_keys workload: cold `__spark_entry__.queries()` keys.

The parent writes seeded sf-shaped tables in the multi-file layout of
bench.prep_multirg, then starts one child process (a fresh Spark
session at local[$SPARK_GRAFT_CPUS]). The child runs one untimed
warm-up key, then each key once with the session memos cleared first
(bench.clear_session_memos), timing the DataFrame build and the force
(collecting the rows through Arrow) apart. Outside the timed region it
compares every key's rows with `oracle_sql()[key]` run by DuckDB, using
the comparison of scripts/check_correctness.py. The measured work is
one pass over the keys, whatever --seconds says (~45 s at local[4]).

    python perfbench/batch.py --data DIR --out FILE [--trace 1] KEY...
"""

from __future__ import annotations

import gc
import importlib.util
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

# Four keys from bench.py's 18-key comparable set (scan + aggregate,
# a six-way join, FQL, LSH dedup) and four of the five keys whose time is
# mostly Spark jobs fired while the DataFrame is built (connected
# components, the ANN catalog). The fifth, graph_modularity, and the
# rest of the comparable set are left out so that a run fits its time
# budget: graph_modularity's DuckDB oracle alone takes ~18 s at this
# scale (~3 min at sf0.1).
COMPARABLE = ["tpch_q1", "tpch_q5", "fql_sample", "dedup_minhash"]
BUILD_HEAVY = ["dedup_quality_rep", "pipeline_dedup_savings",
               "multimodal_phash_groups", "ann_recall_eval"]
KEYS = COMPARABLE + BUILD_HEAVY
SF = 0.01
WARMUP_KEY = "tpch_q6"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def batch_keys(seed: int, seconds: float, traced: bool, work: str,
               sf: float = SF, keys: list[str] = KEYS) -> dict:
    import bench
    import gen

    data = os.path.join(work, "tables")
    t0 = time.perf_counter()
    gen.write_batch_tables(data, seed, sf, bench._SPLITS)
    prep_s = time.perf_counter() - t0

    out_file = os.path.join(work, "batch.json")
    cmd = [sys.executable, os.path.abspath(__file__), "--data", data, "--out", out_file,
           "--trace", str(int(traced)), *keys]
    spawned = time.time()
    with open(os.path.join(work, "batch.log"), "w") as logf:
        proc = common.spawn(cmd, cwd=work, env=common.child_env(work),
                            stdout=logf, stderr=subprocess.STDOUT)
        rc = common.wait_tree(proc, 130)
    if rc != 0:
        with open(os.path.join(work, "batch.log"), errors="replace") as f:
            raise RuntimeError(f"batch child exited {rc}: {f.read()[-2000:]}")
    with open(out_file) as f:
        res = json.load(f)

    start_s = res["session_ready"] - spawned
    wall_ms = [1000 * (k["build_s"] + k["exec_s"]) for k in res["keys"].values()]
    total_s = sum(wall_ms) / 1000
    tail_ms, pct, n = common.tail(wall_ms)
    out = {
        "attempted": len(keys),
        "failed": sum(1 for k in keys if not res["keys"].get(k, {}).get("ok")),
        "e2e": {
            "setup_s": prep_s + start_s,
            "op_p50_ms": common.median(wall_ms),
            "op_tail_ms": tail_ms,
            "ops_per_s": len(wall_ms) / total_s,
            "peak_rss_mb": res["peak_rss_mb"],
        },
        "report": {"op": "cold batch key", "clients": 1, "loop": "closed",
                   "tail_percentile": round(pct, 2), "n": n, "sf": sf,
                   "batch_total_s": total_s,
                   "failures": {k: v["why"] for k, v in res["keys"].items() if not v["ok"]},
                   "session.start_s": start_s, "session.prep_s": prep_s},
    }
    if traced:
        per = max(len(keys), 1)
        spark, by = res["spark"], res["spans"]
        layers = {
            "fql.parse_ms": by.get("fql.parse", 0.0),
            "fql.compile_ms": by.get("fql.compile", 0.0),
            "spark.jobs_per_op": spark["jobs"] / per,
            "spark.stages_per_op": spark["stages"] / per,
            "spark.tasks_per_op": spark["tasks"] / per,
            "spark.task_ms_per_op": spark["task_ms"] / per,
            "spark.collect_ms": by.get("spark.collect", 0.0),
            "spark.shuffle_bytes_per_op": spark["shuffle_bytes"] / per,
            "spark.spill_bytes": float(spark["spill_bytes"]),
            "session.start_s": start_s, "session.prep_s": prep_s,
        }
        for field in ("build_s", "exec_s", "jobs_in_build"):
            vals = {k: float(v[field]) for k, v in res["keys"].items()}
            layers[f"batch.{field}"] = sum(vals.values())
            layers.update({f"batch.{field}.{k}": v for k, v in vals.items()})
        out["layers"] = layers
    return out


# --- child ------------------------------------------------------------------

def _load_check():
    path = os.path.join(common.REPO, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _child(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args(argv)

    import spans as spanlib
    import sparkui

    tracer = spanlib.Tracer()
    if args.trace:
        spanlib.install(tracer)

    import __spark_entry__ as entry
    from bench import clear_session_memos
    from fossil_spark.session import get_spark

    spark = get_spark("perfbench-batch")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    session_ready = time.time()
    qs = entry.queries()

    qs[WARMUP_KEY](spark, args.data).toPandas()
    clear_session_memos()
    ui0 = sparkui.snapshot(sc.uiWebUrl) if args.trace else None
    window = [time.perf_counter_ns()]
    build = tracer.wrap("batch.build", lambda key: qs[key](spark, args.data))

    keys, frames = {}, {}
    for key in args.keys:
        clear_session_memos()
        gc.collect()
        if args.trace:
            sc.setJobGroup(f"build-{key}", key)
        t0 = time.perf_counter()
        df = build(key) if args.trace else qs[key](spark, args.data)
        t1 = time.perf_counter()
        if args.trace:
            sc.setJobGroup(f"exec-{key}", key)
        frames[key] = df.toPandas()
        t2 = time.perf_counter()
        keys[key] = {"build_s": t1 - t0, "exec_s": t2 - t1, "jobs_in_build": len(
            sc.statusTracker().getJobIdsForGroup(f"build-{key}")) if args.trace else 0}
        common.log(f"{key}: build {t1 - t0:.2f} s, exec {t2 - t1:.2f} s")
    window.append(time.perf_counter_ns())
    peak = common.peak_rss_mb(os.getpid())
    spark_delta = sparkui.delta(sc.uiWebUrl, ui0) if args.trace else None

    # outside the timed region: rows vs the DuckDB oracle
    import duckdb

    check = _load_check()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.data}/{t}.parquet/*.parquet')")
    oracles = entry.oracle_sql()
    for key, pdf in frames.items():
        try:
            want = check.normalize(con.execute(oracles[key]).df())
            ok, why = check.frames_equal(check.normalize(pdf), want)
        except Exception as ex:  # an oracle error fails the key, not the run
            ok, why = False, f"{type(ex).__name__}: {ex}"[:300]
        keys[key].update(ok=ok, why=why)
        common.log(f"{key}: {'PASS' if ok else 'FAIL ' + why}")

    span_ms = {}
    if args.trace:
        lo, hi = window
        top = [s for s in tracer.spans if lo <= s["start"] and s["end"] <= hi
               and (s["name"] != "spark.collect" or s["parent"] is None)]
        for name in ("fql.parse", "fql.compile", "spark.collect"):
            xs = [s["end"] - s["start"] for s in top if s["name"] == name]
            span_ms[name] = sum(xs) / len(xs) / 1e6 if xs else 0.0
    with open(args.out, "w") as f:
        json.dump({"session_ready": session_ready, "keys": keys, "peak_rss_mb": peak,
                   "spark": spark_delta, "spans": span_ms}, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(_child(sys.argv[1:]))
