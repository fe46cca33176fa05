"""Spark counters read from outside, through the UI REST API.

`snapshot(ui)` records the newest job, stage and SQL execution ids;
`delta(ui, before)` sums what ran after that snapshot: jobs, stages,
tasks, executor run time, shuffle and spill bytes, and the parquet
scan nodes' file, partition, byte and row counts.
"""

from __future__ import annotations

import json
import urllib.request

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _app(ui: str) -> str:
    return f"{ui}/api/v1/applications/{_get(ui + '/api/v1/applications')[0]['id']}"


def metric_value(text: str) -> float:
    """A SQL metric as the UI prints it: '33,333', '407.9 KiB', or a
    'total (min, med, max ...)' block whose first number is the total."""
    first = text.split("\n")[-1] if text.startswith("total") else text
    parts = first.replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def snapshot(ui: str) -> dict:
    app = _app(ui)
    jobs = _get(f"{app}/jobs")
    stages = _get(f"{app}/stages")
    sql = _get(f"{app}/sql?details=false&length=100000")
    return {
        "job": max((j["jobId"] for j in jobs), default=-1),
        "stage": max((s["stageId"] for s in stages), default=-1),
        "sql": max((e["id"] for e in sql), default=-1),
    }


def delta(ui: str, before: dict) -> dict:
    """Totals over everything that ran after `before`."""
    app = _app(ui)
    jobs = [j for j in _get(f"{app}/jobs") if j["jobId"] > before["job"]]
    stages = [s for s in _get(f"{app}/stages") if s["stageId"] > before["stage"]]
    sql = [e for e in _get(f"{app}/sql?details=true&planDescription=false&length=100000")
           if e["id"] > before["sql"]]
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "task_ms": sum(s["executorRunTime"] for s in stages),
        "shuffle_bytes": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "scan_files": 0.0, "scan_partitions": 0.0, "scan_bytes": 0.0, "scan_rows": 0.0,
    }
    names = {"number of files read": "scan_files",
             "number of partitions read": "scan_partitions",
             "size of files read": "scan_bytes",
             "number of output rows": "scan_rows"}
    for ex in sql:
        for node in ex.get("nodes", []):
            if not node["nodeName"].startswith("Scan parquet"):
                continue
            for m in node.get("metrics", []):
                if m["name"] in names:
                    out[names[m["name"]]] += metric_value(m["value"])
    return out
