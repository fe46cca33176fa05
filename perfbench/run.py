"""fossil_spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload wire_read|wire_mixed|batch_keys \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from --seed.
The last line of stdout is one JSON object {correct, attempted, failed,
metrics}: with --trace 0 the end-to-end metrics (tracing off), with
--trace 1 the per-layer metrics of a traced run. The line before it is
a report with the workload's details (op, client count, tail
percentile and sample count, workload-specific figures). Every file
the run makes lives under .perfbench/ in the checkout and is removed
at exit. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

END_TO_END = [  # (name, unit)
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]
_LAYERS = [
    ("fql.parse_ms", "ms"), ("fql.compile_ms", "ms"),
    ("store.plan_ms", "ms"), ("store.files_read_per_query", "count"),
    ("store.partitions_read_per_query", "count"), ("store.bytes_read_per_query", "B"),
    ("store.rows_returned_per_row_scanned", "ratio"),
    ("store.flush_ms", "ms"), ("store.flushes", "count"), ("store.rows_per_flush", "count"),
    ("store.files_total", "count"), ("store.small_files", "count"),
    ("store.compactions", "count"),
    ("server.query_ms", "ms"), ("server.append_ms", "ms"),
    ("server.wait_ms", "ms"), ("server.self_ms", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.task_ms_per_op", "ms"),
    ("spark.collect_ms", "ms"), ("spark.shuffle_bytes_per_op", "B"),
    ("spark.spill_bytes", "B"),
    ("batch.build_s", "s"), ("batch.exec_s", "s"), ("batch.jobs_in_build", "count"),
    ("session.start_s", "s"), ("session.prep_s", "s"),
    ("trace.op_p50_ms", "ms"),
]


def per_layer() -> list[tuple[str, str]]:
    from batch import KEYS

    per_key = [(f"batch.{f}.{k}", u) for f, u in
               (("build_s", "s"), ("exec_s", "s"), ("jobs_in_build", "count"))
               for k in KEYS]
    return _LAYERS + per_key


WORKLOADS = ("wire_read", "wire_mixed", "batch_keys")
# a run that has not finished by then gives up, leaving time to stop its
# processes before the 180 s a run may take
RUN_LIMIT_S = 140


def _interrupted(signum, _frame):
    raise SystemExit(128 + signum)


def _out_of_time(_signum, _frame):
    raise TimeoutError(f"run not finished after {RUN_LIMIT_S} s")


def _checkout_ok() -> str | None:
    for rel in ("fossil_spark/__main__.py", "__spark_entry__.py", "bench.py",
                "scripts/check_correctness.py"):
        if not os.path.exists(os.path.join(common.REPO, rel)):
            return rel
    return None


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    if workload == "batch_keys":
        from batch import batch_keys

        return batch_keys(seed, seconds, traced, work)
    import wire

    return getattr(wire, workload)(seed, seconds, traced, work)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _checkout_ok()
    if missing:
        print(f"perfbench: {missing} not found; run from the root of a "
              f"fossil_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, common.REPO)

    # Every process the run starts ends before it exits, on every path:
    # orphans are adopted, SIGTERM/SIGINT/SIGHUP and the time limit
    # unwind through the cleanup, and if this process is killed outright
    # its children die with it.
    common.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _interrupted)
    signal.signal(signal.SIGALRM, _out_of_time)
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(common.REPO, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        # a second signal must not cut the cleanup short
        signal.alarm(0)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        common.reap_all()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layers = {**res["layers"], "trace.op_p50_ms": res["e2e"]["op_p50_ms"]}
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in per_layer()}
    else:
        metrics = {n: {"value": res["e2e"][n], "unit": u} for n, u in END_TO_END}
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **res["report"],
              "failed_ops_ratio": res["failed"] / res["attempted"]}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
