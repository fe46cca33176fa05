#!/usr/bin/env python
"""Capture .explain("formatted") plans of driver queries.

Usage: python scripts/capture_plans.py
       python scripts/capture_plans.py --dump <round> <suffix> key [key ...]
       python scripts/capture_plans.py --dump <round> <suffix> --all
       python scripts/capture_plans.py --dump <round> <suffix> --all-bench

Without arguments it regenerates docs/plans.md: the physical plans of
the queries whose shapes the PERFORMANCE.md scale claims rest on, at
sf0.001. --dump writes plans/<round>/<key>_<suffix>.txt at
$SPARK_GRAFT_SF_DIR (default sf0.1) for the named keys, every
registered queries() key (--all) or the bench's heavy keys
(--all-bench). Both go through one capture-and-normalize path:
expression, RDD and plan ids (#123, RDD[7], plan_id=42) and
lambda-variable suffixes (x_12 -> x) are stripped, so the dumps of two
commits compare with `diff -r`.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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


SECTIONS = {
    "tpch_q5": (
        "Six-table join: every dimension broadcasts; the only shuffle is "
        "the fact-fact orderkey join and the final aggregation."
    ),
    "dedup_minhash": (
        "MinHash LSH: one explode+groupBy builds all 8 signature columns, "
        "one groupBy on (band, band_hash) emits in-bucket pairs. No self-join."
    ),
    "ann_ivf": (
        "IVF assignment: BroadcastNestedLoopJoin against the single-row "
        "centroid table, then a broadcast list-id join. No exchange before "
        "the join."
    ),
    "fql_since": (
        "FQL time predicate: filter reaches the scan as PushedFilters "
        "(and PartitionFilters on an EventStore layout)."
    ),
    "ts_asof_join": (
        "As-of join: union-tag + one window pass keyed by the join column."
    ),
    "ts_gapfill": (
        "Gap fill (round 4 rewrite): join-free segment generation — one "
        "bucket aggregate, lead() on the same partitioning, sequence() "
        "explode. 1 scan, 0 joins (was 2 scans, 1 join)."
    ),
    "text_unigram_nll": (
        "Corpus-fit unigram NLL: one token groupBy, a 1-row broadcast "
        "total, the token-keyed re-join (Zipfian key: AQE skew case), "
        "one doc groupBy with decimal accumulation."
    ),
    "dedup_paragraph": (
        "First-occurrence block dedup: min(struct(doc,pos)) groupBy on "
        "the unit hash (map-side partial min = whale-unit skew-safe), "
        "join back, rebuild in order."
    ),
    "text_keywords": (
        "TF-IDF keywords: tf scan + term-window document frequency "
        "(no rejoin), 1-row broadcast N, per-doc top-k window."
    ),
    "ts_changepoint": (
        "CUSUM changepoint: all window frames and the row_number "
        "filter share ONE key partitioning — one shuffle, no joins."
    ),
    "ts_m4": (
        "M4 downsampling: struct-ordered min/max in ONE map-side-combined "
        "groupBy — 4 points per bucket with a single shuffle."
    ),
    "ts_interval_coverage": (
        "Union-of-intervals coverage: ONE exchange; window sweep and both "
        "aggregates share the key partitioning (marginal-contribution "
        "identity removes the islands re-shuffle)."
    ),
    "dedup_substring": (
        "ExactSubstr window stats: window hashes -> groupBy+join-back on "
        "the narrow hash (whale-window skew-safe), then the per-doc sweep "
        "reuses one doc partitioning."
    ),
    "ts_overlap_join": (
        "Interval overlap join: both sides explode integer bucket ids; "
        "sort-merge equi-join on (key, bucket) with the exact overlap "
        "residual; no theta-join, no broadcast of a big side."
    ),
    "sample_weighted": (
        "Weighted sample: TakeOrderedAndProject directly over the scan — "
        "no shuffle, no global sort."
    ),
    "ts_decompose": (
        "Classical decomposition: the MA trend window and row numbering "
        "share one (key) sort; phase means are a second window — two "
        "exchanges, zero joins, one scan."
    ),
    "ts_xcorr": (
        "Cross-correlation: ONE conditional bucket aggregation resamples "
        "both signals (no pivot, no join); the lag windows and final corr "
        "run on the bounded bucket series."
    ),
    "ts_sax": (
        "SAX: z-norm windows + PAA groupBy share ONE key exchange."
    ),
    "agg_user_features": (
        "User features: lag window + groupBy on one user_id exchange; "
        "distinct-days rides the same aggregation as an Expand."
    ),
    "ts_bursts": (
        "Bursts: map-side-combined bucket counts, one trailing lag frame."
    ),
    "sample_temperature": (
        "Temperature weights: one tally scan; both normalizers are "
        "windows over the per-group table."
    ),
    "embedding_outliers": (
        "Embedding outliers: JVM norm fold + two single-partition median "
        "windows over the bounded norm column."
    ),
    "agg_markov": (
        "Markov transitions: lag window + pair counts on one scan; "
        "normalization window runs over the k^2 transition table."
    ),
    "embedding_coherence": (
        "Coherence: exploded (label,dim) centroid means + broadcast join "
        "back; cosine is a JVM fold."
    ),
    "ts_heatmap": (
        "Heatmap: one map-side-combined groupBy on (key, weekday, hour)."
    ),
    "text_code_detector": (
        "Code detector: pure column expressions fold into the scan — "
        "zero exchanges."
    ),
    "streaming_anomaly_replay": (
        "Streaming-anomaly batch replay (round 9): the LITERAL streaming "
        "function on a static drain — windowed agg + broadcast baseline "
        "join; the stream side never shuffles beyond its window groupBy."
    ),
    "text_dsir_weights": (
        "DSIR importance weights (round 9): gram explode -> md5 bucket "
        "hash -> (doc,bucket) counts checkpointed once -> ONE conditional "
        "1024-row bucket aggregate -> broadcast log-ratio join-back."
    ),
    "text_quality_deciles": (
        "Exact deciles, distributed (round 9 rewrite): range repartition "
        "+ per-partition row_number + broadcast |partitions|-row offset "
        "table — no single-partition corpus sort; NTILE rule in closed "
        "form from the global rank."
    ),
}

HEADER = """# Plan audit (captured)

Physical plans captured from `explain(\"formatted\")` at sf0.001
(regenerate with `python scripts/capture_plans.py`). These are the
shapes the scale claims in PERFORMANCE.md rest on; expression, RDD and
plan ids are normalized to `#`, `RDD[]` and `plan_id=`.

"""


def capture(df) -> str:
    """`df`'s formatted plan, normalized."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return normalize(buf.getvalue())


def dump(spark, qs, rnd: str, suffix: str, keys: list[str]) -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if keys == ["--all"]:
        keys = sorted(qs)
    elif keys == ["--all-bench"]:
        import bench
        keys = [k for k in bench.HEAVY_ISOLATED if k in qs]
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        try:
            plan = capture(qs[key](spark, sf))
        except Exception as ex:
            print(f"FAILED {key}: {ex}", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


def main() -> None:
    import __spark_entry__ as entry
    from fossil_spark.session import get_spark

    spark = get_spark("plandoc")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if sys.argv[1:2] == ["--dump"]:
        rnd, suffix, *keys = sys.argv[2:]
        dump(spark, qs, rnd, suffix, keys)
        return

    sf = "/root/testdata/sf0.001"
    with open(os.path.join(REPO, "docs", "plans.md"), "w") as f:
        f.write(HEADER)
        for key, blurb in SECTIONS.items():
            tree = capture(qs[key](spark, sf)).split("\n\n")[0]
            f.write(f"## {key}\n\n{blurb}\n\n```\n{tree}\n```\n\n")
    print("docs/plans.md written")


if __name__ == "__main__":
    main()
