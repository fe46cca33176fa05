"""Tests of the benchmark itself: input generation, statistics, span
arithmetic, and a tiny smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import batch  # noqa: E402
import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import sparkui  # noqa: E402
import wire  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_store_and_queries_repeat_for_a_seed(tmp_path):
    ub1 = gen.write_store(str(tmp_path / "a"), 7, 5000)
    ub2 = gen.write_store(str(tmp_path / "b"), 7, 5000)
    gen.write_store(str(tmp_path / "c"), 8, 5000)
    assert ub1 == ub2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert len(os.listdir(tmp_path / "a")) == gen.STORE_DAYS
    q1 = [q.fql for q in gen.make_queries(7, 200, 5000)]
    assert q1 == [q.fql for q in gen.make_queries(7, 200, 5000)]
    assert q1 != [q.fql for q in gen.make_queries(8, 200, 5000)]
    assert gen.ingest_plan(7, 1, 300) == gen.ingest_plan(7, 1, 300)


def test_batch_tables_repeat_for_a_seed(tmp_path):
    splits = {"lineitem": ("l_shipdate", 4), "documents": ("doc_id", 2)}
    for d in ("a", "b"):
        gen.write_batch_tables(str(tmp_path / d), 3, 0.001, splits)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert len(os.listdir(tmp_path / "a" / "lineitem.parquet")) == 4


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = common.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    value, pct, n = common.tail([5.0] * 3 + [1.0] * 8)  # n = 11: the minimum
    assert (value, pct, n) == (1.0, 100.0 / 11, 11)
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few: the max


def test_self_time_subtracts_covered_child_time_once():
    sp = [
        {"id": 1, "parent": None, "start": 0, "end": 100},
        {"id": 2, "parent": 1, "start": 10, "end": 30},
        {"id": 3, "parent": 1, "start": 20, "end": 40},   # overlaps 2
        {"id": 4, "parent": 1, "start": 90, "end": 120},  # runs past the parent
        {"id": 5, "parent": 2, "start": 12, "end": 15},
    ]
    st = spans.self_times(sp)
    assert st == {1: 100 - 30 - 10, 2: 20 - 3, 3: 20, 4: 30, 5: 3}


def test_tracer_nests_spans_and_shares_op_ids():
    tracer = spans.Tracer()
    inner = tracer.wrap("inner", lambda: None)
    outer = tracer.wrap("outer", lambda: [inner(), inner()])
    outer()
    outer()
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)
    outers = {s["id"]: s for s in by_name["outer"]}
    assert len(outers) == 2 and len(by_name["inner"]) == 4
    for s in by_name["inner"]:
        assert s["parent"] in outers and s["op"] == outers[s["parent"]]["op"]
    assert len({s["op"] for s in outers.values()}) == 2


def test_spark_ui_metric_values():
    assert sparkui.metric_value("33,333") == 33333
    assert sparkui.metric_value("2.0 KiB") == 2048
    assert sparkui.metric_value(
        "total (min, med, max (stageId: taskId))\n28 ms (13 ms, 15 ms, 15 ms)") == 28


def test_reap_all_stops_an_orphaned_grandchild():
    # in a child interpreter: reap_all waits on every child of its caller
    script = (
        "import json, os, sys, time; sys.path.insert(0, sys.argv[1]); import common\n"
        "common.become_subreaper()\n"
        "p = common.spawn(['sh', '-c', 'sleep 300 >/dev/null & echo $!'], stdout=-1)\n"
        "orphan = int(p.stdout.readline()); p.wait()\n"
        "adopted = common.descendants(os.getpid())[1:]\n"
        "t0 = time.monotonic(); common.reap_all()\n"
        "print(json.dumps([orphan, adopted, common.descendants(os.getpid())[1:],\n"
        "                  time.monotonic() - t0]))\n")
    out = subprocess.run([sys.executable, "-c", script, os.path.dirname(HERE)],
                         capture_output=True, text=True, timeout=60, check=True).stdout
    orphan, adopted, left, secs = json.loads(out)
    assert adopted == [orphan] and left == [] and secs < 5
    assert not os.path.exists(f"/proc/{orphan}")


def test_benchmark_json_lists_the_metrics_run_reports():
    with open(os.path.join(common.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# --- tiny smoke runs (each starts a Spark JVM) ------------------------------

@pytest.fixture
def short_warmups(monkeypatch):
    monkeypatch.setattr(wire, "READ_WARMUP_S", 1.0)
    monkeypatch.setattr(wire, "MIXED_WARMUP_S", 1.0)


def _assert_clean(res):
    assert res["attempted"] > 0 and res["failed"] == 0, res.get("report")
    assert all(v > 0 for v in res["e2e"].values()), res["e2e"]


def test_smoke_wire_read_traced(tmp_path, short_warmups):
    res = wire.wire_read(1, 2.0, True, str(tmp_path), n_rows=20_000)
    _assert_clean(res)
    layers = res["layers"]
    for name in ("fql.parse_ms", "store.plan_ms", "server.query_ms", "spark.jobs_per_op",
                 "store.files_read_per_query", "session.start_s"):
        assert layers[name] > 0, name


def test_smoke_wire_mixed_traced(tmp_path, short_warmups):
    res = wire.wire_mixed(1, 3.0, True, str(tmp_path))
    _assert_clean(res)
    assert res["layers"]["store.flushes"] > 0
    assert res["layers"]["server.append_ms"] > 0


def test_smoke_batch_keys(tmp_path):
    _assert_clean(batch.batch_keys(1, 1.0, False, str(tmp_path), sf=0.001,
                                   keys=["fql_sample", "dedup_minhash"]))
