#!/usr/bin/env python
"""Regenerate docs/operators.md from the live registry.

Usage: python scripts/gen_catalog.py  (writes docs/operators.md)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

GROUPS = [
    ("FQL (fossil query language)", lambda k: k.startswith("fql_")),
    ("Store / schema / server",
     lambda k: k.startswith(("store_", "schema_", "json_props"))),
    ("Time-series analytics",
     lambda k: k.startswith(("ts_", "win_"))),
    ("TPC-H / relational",
     lambda k: k.startswith(("tpch_", "agg_"))),
    ("Dedup", lambda k: k.startswith("dedup_")),
    ("ANN / embeddings / clustering",
     lambda k: k.startswith(("ann_", "embedding_", "cluster_"))),
    ("Text analysis / sampling",
     lambda k: k.startswith(("text_", "sample_", "bpe_"))),
    ("Multimodal", lambda k: k.startswith("multimodal")),
    ("Graph", lambda k: k.startswith("graph_")),
    ("Pipelines", lambda k: k.startswith("pipeline_")),
    ("Streaming (batch-replay twins)",
     lambda k: k.startswith("streaming_")),
]

NOTES = {
    "Time-series analytics": [
        "Null times follow DuckDB's defaults, through the two builders in",
        "`operators/timeseries.py` that every time-series and analytics",
        "query uses: `ordered(by, *order, rows=, range=)` sorts a null",
        "time (and any null order key) LAST, ascending or",
        "`desc_nulls_last`; `time_bucket(col, every)` gives a null time a null",
        "bucket, which groups as a bucket of its own (Spark's",
        "`window()` would drop the row). The per-key pandas operators",
        "(`_per_key`) sort nulls last too.",
        "",
    ],
}


def main() -> None:
    qs = sorted(entry.queries())
    oracles = entry.oracle_sql()
    lines = [
        "# Operator catalog",
        "",
        f"All {len(qs)} registered driver queries ({len(oracles)} with full",
        "DuckDB oracles). 'oracle' = checked hash-exact against an",
        "independent DuckDB SQL oracle (this round: full-registry",
        "sweeps at BOTH sf0.001 and sf0.01); 'rows-only' = row-count/schema check with the reason in",
        "the registry comment (iterative float, sketch, zlib, or eigh — no",
        "SQL equivalent exists). Implementations live in `fossil_spark/`;",
        "each registry wrapper in `__spark_entry__.py` shows the exact",
        "invocation. (Generated by scripts/gen_catalog.py.)",
    ]
    seen: set[str] = set()
    for title, pred in GROUPS:
        keys = [k for k in qs if pred(k) and k not in seen]
        seen.update(keys)
        lines += ["", f"## {title}", "", *NOTES.get(title, []),
                  "| key | check |", "|---|---|"]
        lines += [
            f"| `{k}` | {'oracle' if k in oracles else 'rows-only'} |"
            for k in keys
        ]
    missing = [k for k in qs if k not in seen]
    if missing:
        raise SystemExit(f"keys not matched by any group: {missing}")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs", "operators.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(qs)} keys, {len(oracles)} oracles")


if __name__ == "__main__":
    main()
