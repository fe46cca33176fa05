"""Round-13 regression tests: memo staleness (files-tag keys), the
stopped-session sweep, and the new operators of this round."""

from collections import Counter
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from fossil_spark import catalog


# --------------------------------------------------------------------------
# memo staleness: rewriting parquet behind a previously-seen plan must
# MISS the cache and rebuild fresh results (r12 verdict #3)
# --------------------------------------------------------------------------

def _write_emb(spark, path: str, scale: int) -> None:
    spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) * scale for j in range(4)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_ann_memo_files_tag_staleness(spark, tmp_path):
    """topk_truth called on the same plan before and after the parquet
    behind it is rewritten: the files-tag component of the memo key
    must force a rebuild — the old plan-only key served stale truth
    until the memo was invalidated by hand."""
    from fossil_spark.operators import ann

    path = str(tmp_path / "emb.parquet")
    _write_emb(spark, path, scale=1)
    catalog.invalidate_all()

    def truth_ids():
        emb = spark.read.parquet(path)
        q = emb.filter("vec_id = 7")
        return sorted(
            r["vec_id"]
            for r in ann.topk_truth(emb, q, k=5).collect()
        )

    first = truth_ids()
    # same files, same plan: the second call must HIT
    before = catalog.COUNTS.copy()
    assert truth_ids() == first
    assert catalog.COUNTS - before == Counter(hit=1)

    # rewrite the corpus: vec 7's neighborhood flips because every
    # vector is scaled but vec-id identity stays; cosine is scale
    # invariant so scale alone wouldn't change ranks — change content
    spark.createDataFrame(
        [(i, [float((i * 13 + j * 5) % 17) for j in range(4)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)

    before = catalog.COUNTS.copy()
    fresh = truth_ids()
    # a MISS (no stale serve), and the result is the true brute-force
    # answer on the NEW files
    assert catalog.COUNTS - before == Counter(miss=1)
    emb2 = spark.read.parquet(path)
    direct = sorted(
        r["vec_id"]
        for r in ann.cosine_topk(emb2, emb2.filter("vec_id = 7"), k=5).collect()
    )
    assert fresh == direct
    catalog.invalidate_all()


def test_dedup_component_cache_files_tag_staleness(spark, tmp_path):
    """Same invariant for the dedup component catalog: a rewritten
    docs parquet must not serve the previous component table."""
    from fossil_spark.operators import dedup

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "totally different words here nothing shared at all")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    catalog.invalidate_all()

    comp1 = dedup.neardup_components(spark.read.parquet(path))
    assert {r["doc_id"] for r in comp1.collect()} == {1, 2}
    before = catalog.COUNTS.copy()
    assert dedup.neardup_components(spark.read.parquet(path)) is comp1
    assert catalog.COUNTS - before == Counter(hit=1)

    # rewrite: now 2 and 3 are the near-dup pair
    spark.createDataFrame(
        [(1, "totally different words here nothing shared at all"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(path)

    before = catalog.COUNTS.copy()
    comp2 = dedup.neardup_components(spark.read.parquet(path))
    assert {r["doc_id"] for r in comp2.collect()} == {2, 3}
    assert catalog.COUNTS["miss"] > before["miss"]
    assert catalog.COUNTS["hit"] == before["hit"]
    catalog.invalidate_all()


def test_memo_sweeps_stopped_session_entries(spark):
    """Entries whose owning session has been stopped can never hit
    again; the next insert must sweep them out of the LRU instead of
    letting them crowd out live entries (r12 ADVICE)."""
    from fossil_spark.operators import ann

    class _DeadContext:
        _jsc = None

    class _DeadSession:
        sparkContext = _DeadContext()

    class _Unpersistable:
        is_cached = True
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    catalog.invalidate_all()
    dead_df = _Unpersistable()
    catalog._ENTRIES[("dead", "t", 0, "tag")] = (_DeadSession(), dead_df)

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    ann.topk_truth(emb, emb.filter("vec_id = 0"), k=3).collect()
    assert ("dead", "t", 0, "tag") not in catalog._ENTRIES
    assert dead_df.unpersisted
    assert catalog.size() == 1  # the live entry just stored
    catalog.invalidate_all()


def test_bucketed_events_content_tag_and_supersede_sweep(spark, tmp_path):
    """ensure_bucketed_events (r12 ADVICE): the snapshot tag must key
    on per-file content (mtime_ns + size), and materializing a fresh
    tag must drop the superseded snapshot of the SAME source —
    catalog table and build/ directory both."""
    import glob
    import os

    from fossil_spark.queries.analytics import ensure_bucketed_events

    sf_dir = str(tmp_path)

    def write_events(n):
        spark.createDataFrame(
            [(i, datetime(2024, 1, 1) + timedelta(minutes=i), i % 3,
              "view", float(i), "{}")
             for i in range(n)],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf_dir, "events.parquet"))

    write_events(10)
    t1 = ensure_bucketed_events(spark, sf_dir, n_buckets=2)
    assert ensure_bucketed_events(spark, sf_dir, n_buckets=2) == t1
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src_tag = t1.split("_")[-2]
    dirs1 = glob.glob(
        os.path.join(repo_root, "build", f"bucketed_events_{src_tag}_*"))
    assert len(dirs1) == 1

    write_events(12)  # rewrite: different content, same source dir
    t2 = ensure_bucketed_events(spark, sf_dir, n_buckets=2)
    assert t2 != t1
    assert spark.read.table(t2).count() == 12
    # superseded snapshot swept: table gone, build dir gone, ONE left
    assert not spark.catalog.tableExists(t1)
    dirs2 = glob.glob(
        os.path.join(repo_root, "build", f"bucketed_events_{src_tag}_*"))
    assert len(dirs2) == 1 and dirs2[0].endswith(t2.split("_")[-1])
    spark.sql(f"DROP TABLE IF EXISTS {t2}")
    import shutil

    shutil.rmtree(dirs2[0], ignore_errors=True)


def test_memo_schema_mismatch_falls_through(spark):
    """A (hash-collision) hit whose cached schema differs from the
    requested plan's schema must recompute, not serve the wrong
    table: forced by planting a wrong-schema entry under the exact
    key memo() would compute."""
    from fossil_spark.operators import ann

    catalog.invalidate_all()
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    plan = ann.cosine_topk(emb, emb.filter("vec_id = 0"), k=3)
    wrong = spark.createDataFrame([(1,)], "other_col long")
    catalog._ENTRIES[catalog.Slot("memo:", plan).key] = (spark, wrong)
    before = catalog.COUNTS.copy()
    served = catalog.memo(plan)
    assert served.schema == plan.schema  # not the planted frame
    assert catalog.COUNTS - before == Counter(miss=1)
    catalog.invalidate_all()


def test_jaccard_truncation_self_describing(spark):
    """r12 verdict #5: when the wedge-center cap binds, every
    surviving pair reports how many shared neighbors the cap
    excluded (n_hub_common), so n_common + n_hub_common recovers the
    exact common-neighbor count; with the cap off the column is all
    zeros."""
    from fossil_spark.operators import graph

    # hub 10 (deg 4) over leaves 1..4; leaves 1,2 ALSO share the
    # low-degree neighbor 30; separate path 20-21-22
    pairs = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3), (10, 4), (30, 1), (30, 2),
         (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    capped = {(r["node_a"], r["node_b"]): r
              for r in graph.jaccard_similarity(
                  pairs, max_center_degree=3).collect()}
    # (1,2) survives via center 30 and declares its capped hub center
    assert capped[(1, 2)]["n_common"] == 1
    assert capped[(1, 2)]["n_hub_common"] == 1
    # pair not touching any hub: 0-flagged
    assert capped[(20, 22)]["n_hub_common"] == 0
    exact = {(r["node_a"], r["node_b"]): r
             for r in graph.jaccard_similarity(pairs).collect()}
    # capped count + declared hub centers == exact count
    assert exact[(1, 2)]["n_common"] == \
        capped[(1, 2)]["n_common"] + capped[(1, 2)]["n_hub_common"]
    assert all(r["n_hub_common"] == 0 for r in exact.values())


def test_two_hop_truncation_self_describing(spark):
    """r12 verdict #5 (two_hop twin): rows whose 2-hop frontier may
    undercount (>= 1 direct neighbor excluded as a wedge center)
    carry n_hub_neighbors > 0; cap off -> all zeros."""
    from fossil_spark.operators.graph import two_hop_reach

    pairs = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (100, 4)],
        "doc_a long, doc_b long",
    )
    capped = {r["doc_id"]: r for r in two_hop_reach(
        pairs, max_center_degree=3).collect()}
    assert capped[1]["n_hub_neighbors"] == 1   # its hub wasn't expanded
    assert capped[1]["reach_2hop"] == 1        # and indeed undercounts
    assert capped[100]["n_hub_neighbors"] == 0  # hub's neighbors are leaves
    exact = {r["doc_id"]: r for r in two_hop_reach(pairs).collect()}
    assert all(r["n_hub_neighbors"] == 0 for r in exact.values())


def test_adamic_adar_hand_computed(spark):
    """Triangle {1,2,3} + node 4 linked to 1,2. Degrees: 1,2 -> 3;
    3,4 -> 2. Hand values: AA(1,2) = 2/ln(2) (shared 3,4),
    AA(3,4) = 2/ln(3) (shared 1,2), single-center pairs 1/ln(3)."""
    from fossil_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 1), (4, 2)],
        "doc_a long, doc_b long",
    )
    out = {(r["node_a"], r["node_b"]): r
           for r in graph.adamic_adar(pairs).collect()}
    assert set(out) == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}
    assert abs(out[(1, 2)]["aa_score"] - 2 * round(1 / 0.6931471805599453, 8)) < 1e-9
    assert abs(out[(3, 4)]["aa_score"] - 2 * round(1 / 1.0986122886681098, 8)) < 1e-9
    assert abs(out[(1, 3)]["aa_score"] - round(1 / 1.0986122886681098, 8)) < 1e-9
    assert out[(1, 2)]["n_common"] == 2 and out[(3, 4)]["n_common"] == 2
    assert out[(1, 2)]["is_edge"] and not out[(3, 4)]["is_edge"]
    assert all(r["n_hub_common"] == 0 for r in out.values())
    # cap 2: only deg-2 centers (3, 4) emit wedges -> (1,2) survives
    # with the SAME score (its centers are non-hubs), others vanish
    capped = {(r["node_a"], r["node_b"]): r
              for r in graph.adamic_adar(
                  pairs, max_center_degree=2).collect()}
    assert set(capped) == {(1, 2)}
    assert capped[(1, 2)]["aa_score"] == out[(1, 2)]["aa_score"]
    assert capped[(1, 2)]["n_hub_common"] == 0


def test_croston_hand_computed(spark):
    """alpha=0.1, hourly buckets at e=0 (2 events), e=2 (3), e=5 (1):
    z: 2 -> .9*2+.1*3 = 2.1 -> .9*2.1+.1*1 = 1.99
    q: init 2 -> .9*2+.1*3 = 2.1
    forecast = 1.99/2.1; sba = .95 * forecast. A single-demand key
    drops."""
    import datetime as dt

    from fossil_spark.operators import timeseries as ts

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    rows = [("a", at(0)), ("a", at(0, 30)), ("a", at(2)), ("a", at(2, 1)),
            ("a", at(2, 2)), ("a", at(5)), ("b", at(1))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {r["event_type"]: r for r in ts.croston(
        df, alpha=0.1, every="1 hour", time_col="ts",
        by=["event_type"]).collect()}
    assert set(out) == {"a"}  # 'b' has one demand bucket: dropped
    r = out["a"]
    assert r["n_demands"] == 3
    z = (1.0 - 0.1) * ((1.0 - 0.1) * 2.0 + 0.1 * 3.0) + 0.1 * 1.0
    q = (1.0 - 0.1) * 2.0 + 0.1 * 3.0
    assert r["z_hat"] == z and r["p_hat"] == q
    assert r["forecast"] == z / q
    assert r["forecast_sba"] == (1.0 - 0.05) * (z / q)


def test_raking_margins_and_recurrence(spark, tmp_path):
    """4 users -> 4 singleton cells over (dominant type, quartile);
    the raked cell totals must match an independent Python replay of
    the IPF recurrence, and both margins must converge to
    N/|categories|."""
    import datetime as dt

    from fossil_spark.queries.analytics import raking

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    rows += [(1, t0, "view")] * 3 + [(1, t0, "click")]
    rows += [(2, t0, "click")] * 2
    rows += [(3, t0, "view")]
    rows += [(4, t0, "view")] * 5
    ev = spark.createDataFrame(
        [(i, uid, ts, et, float(i), "{}")
         for i, (uid, ts, et) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d)
    ev.write.parquet(os.path.join(d, "events.parquet"))
    out = {(r["event_type"], r["quartile"]): r
           for r in raking(spark, d, rounds=5).collect()}
    # quartile order by (n_ev, user_id): u3(1), u2(2), u1(4), u4(5)
    assert set(out) == {("view", 1), ("click", 2), ("view", 3),
                        ("view", 4)}
    # independent replay of the recurrence on the known cell table
    cells = {("view", 1): 1, ("click", 2): 1, ("view", 3): 1,
             ("view", 4): 1}
    w = {k: 1.0 for k in cells}
    tr, tc = 4.0 / 2.0, 4.0 / 4.0
    for _ in range(5):
        for et in ("view", "click"):
            cur = sum(round(cells[k] * w[k], 8) for k in cells
                      if k[0] == et)
            for k in cells:
                if k[0] == et:
                    w[k] = w[k] * (tr / cur)
        for q in (1, 2, 3, 4):
            cur = sum(round(cells[k] * w[k], 8) for k in cells
                      if k[1] == q)
            for k in cells:
                if k[1] == q:
                    w[k] = w[k] * (tc / cur)
    for k in cells:
        assert abs(out[k]["user_weight"] - round(w[k], 6)) < 1e-9, k
    # the last IPF step scales columns, and every quartile here is a
    # singleton cell, so column margins are EXACT (1.0 each); row
    # margins are infeasible in this degenerate topology (click
    # exists only in quartile 2) — which is exactly why the
    # recurrence-equality check above is the real cross-check
    col = {q: sum(out[k]["cell_total"] for k in out if k[1] == q)
           for q in (1, 2, 3, 4)}
    assert all(abs(v - 1.0) < 1e-6 for v in col.values()), col


def test_stupid_backoff_hand_computed(spark):
    """Corpus: d1='a b c a b c', d2='a b c x', d3='z z' (omitted).
    Seen trigrams (count>=2): only (a,b,c). Seen bigrams: (a,b)=3,
    (b,c)=3. Unigrams a=3,b=3,c=3,x=1,z=2, T=12. Hand scores:
    d1: [1.0, .16*3/12, .4*3/3, 1.0]; d2: [1.0, .16*1/12]."""
    import math

    from fossil_spark.operators.text import stupid_backoff_nll

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c x"), (3, "z z")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in stupid_backoff_nll(docs).collect()}
    assert set(out) == {1, 2}

    def nll(scores):
        return round(sum(round(-math.log(s), 8) for s in scores), 4)

    d1 = nll([1.0, 0.4 * 0.4 * (3.0 / 12.0), 0.4 * (3.0 / 3.0), 1.0])
    d2 = nll([1.0, 0.4 * 0.4 * (1.0 / 12.0)])
    assert out[1]["n_trigrams"] == 4 and out[2]["n_trigrams"] == 2
    assert abs(out[1]["nll"] - d1) < 1e-6, (out[1]["nll"], d1)
    assert abs(out[2]["nll"] - d2) < 1e-6, (out[2]["nll"], d2)
    assert abs(out[1]["avg_nll"] - round(d1 / 4, 6)) < 1e-6


def test_lomb_scargle_finds_planted_period(spark):
    """A 6-hour sinusoid sampled at IRREGULAR times (the case that
    breaks grid-FFT detectors): normalized LS power at 360 min must
    dwarf the other candidate periods, and match an independent
    Python replay of the binned estimator."""
    import math

    from fossil_spark.operators import timeseries as ts

    t0 = datetime(2024, 1, 1)
    # deterministic irregular sampling over 3 days
    times = []
    m = 0
    for i in range(400):
        m += 5 + (i * 37) % 23  # irregular gaps 5..27 min
        times.append(m)
    rows = [("a", t0 + timedelta(minutes=m),
             math.sin(2.0 * math.pi * m / 360.0)) for m in times]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp,"
                               " value double")
    out = {r["period_minutes"]: r for r in ts.lomb_scargle(
        df, time_col="ts", by=["event_type"]).collect()}
    assert set(out) == {60, 360, 720, 1440}
    p360 = out[360]["power_norm"]
    for p in (60, 720, 1440):
        assert p360 > 10 * out[p]["power_norm"], (p, out[p], p360)

    # independent replay (python floats; tolerance absorbs the
    # decimal-quantization difference)
    def replay(period):
        nph = period // 15
        sums = [0.0] * 8  # sy syy s c s2 c2 ys yc
        epoch0 = int(t0.timestamp() * 1e6)
        for m in times:
            v = math.sin(2.0 * math.pi * m / 360.0)
            slot = (epoch0 + m * 60_000_000) // 900_000_000
            k = slot % nph
            th = 2.0 * math.pi * k / nph
            s1, c1 = round(math.sin(th), 8), round(math.cos(th), 8)
            s2, c2 = (round(math.sin(2 * th), 8),
                      round(math.cos(2 * th), 8))
            for idx, e in enumerate(
                    (v, v * v, s1, c1, s2, c2, v * s1, v * c1)):
                sums[idx] += round(e, 8)
        sy, syy, s, c, s2s, c2s, ys, yc = sums
        n = float(len(times))
        ybar = sy / n
        wt = 0.5 * math.atan2(s2s, c2s)
        co, si = math.cos(wt), math.sin(wt)
        cy, sy2 = yc - ybar * c, ys - ybar * s
        a, b = co * cy + si * sy2, co * sy2 - si * cy
        cc = (co * co * ((n + c2s) / 2.0) + 2 * co * si * (s2s / 2.0)
              + si * si * ((n - c2s) / 2.0))
        ssum = (si * si * ((n + c2s) / 2.0) - 2 * co * si * (s2s / 2.0)
                + co * co * ((n - c2s) / 2.0))
        pw = 0.5 * (a * a / cc + b * b / ssum)
        var = (syy - n * ybar * ybar) / (n - 1.0)
        return pw / var

    for p in (60, 360, 720, 1440):
        assert abs(out[p]["power_norm"] - replay(p)) < 1e-4, p


# --------------------------------------------------------------------------
# r13 optimization: the near-dup pair graph is session-memoized (the
# ANN truth-catalog pattern) — same session + same files HIT, a
# rewritten parquet behind the same plan MISSES and rebuilds
# --------------------------------------------------------------------------

def _write_docs(spark, path: str, texts: list[str]) -> None:
    spark.createDataFrame(
        [(i, t, "web") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_minhash_pairs_session_memo(spark, tmp_path):
    """minhash_lsh_pairs memoizes its pair table per (session, input
    plan, files): the second call returns identical rows without
    rebuilding, and rewriting the parquet behind the same plan misses
    the memo and reflects the new corpus."""
    from fossil_spark.operators import dedup

    path = str(tmp_path / "docs.parquet")
    base = "the quick brown fox jumps over the lazy dog again and again "
    _write_docs(
        spark, path,
        [base + "alpha", base + "alpha", base + "beta beta beta beta",
         "completely different text with nothing shared at all here"],
    )
    catalog.invalidate_all()

    def pairs_rows():
        docs = spark.read.parquet(path)
        return sorted(
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(docs).collect()
        )

    first = pairs_rows()
    assert (0, 1) in first  # the near-identical pair is found
    # same session, same files: the pair table HITs (as does the
    # signature matrix under it); nothing is recomputed
    before = catalog.COUNTS.copy()
    assert pairs_rows() == first
    assert catalog.COUNTS["hit"] > before["hit"]
    assert catalog.COUNTS["miss"] == before["miss"]

    # rewrite the corpus behind the same plan: MISS + fresh pairs
    _write_docs(
        spark, path,
        [base + "gamma", base + "delta delta",
         base + "gamma", "unrelated text entirely on its own here"],
    )
    fresh = pairs_rows()
    assert (0, 2) in fresh  # the NEW near-identical pair
    catalog.invalidate_all()


def test_theil_sen_sort_median_matches_percentile(spark):
    """r13 optimization regression: the sen-slope median is computed
    by radix-sort + middle-row pick instead of the percentile()
    ObjectHashAggregate. Both must agree BITWISE with percentile's
    interpolation — odd and even pair counts, ties, and a null bucket
    mean (null slopes drop exactly like percentile drops them)."""
    import struct
    from datetime import datetime, timedelta

    import pyspark.sql.functions as F

    from fossil_spark.operators import timeseries as ts

    base = datetime(2024, 3, 1)
    rows = []
    # key "odd": 4 buckets -> 6 pairs (even count, interpolated);
    # key "even": 5 buckets -> 10 pairs; values md5-free deterministic
    # pseudo-noise with exact ties between buckets 1 and 3
    for i, v in enumerate([3.0, 7.5, 1.25, 7.5]):
        rows.append((i, "odd", base + timedelta(hours=i), v))
    for i, v in enumerate([2.0, -1.5, 4.75, 4.75, 0.125]):
        rows.append((10 + i, "even", base + timedelta(hours=i), v))
    # key "gap": one bucket whose only value is NULL -> null slopes
    for i, v in enumerate([1.0, None, 5.0, 2.0]):
        rows.append((20 + i, "gap", base + timedelta(hours=i), v))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    catalog.invalidate_all()
    got = {
        r["event_type"]: r
        for r in ts.theil_sen_trend(
            df, every="1 hour", time_col="ts", by=["event_type"],
            round_to=12,
        ).collect()
    }

    # reference: the literal percentile() aggregate over the same
    # bucket pairs (the pre-r13 shape)
    b = (
        df.groupBy(
            "event_type", F.window("ts", "1 hour").start.alias("__b")
        )
        .agg(
            (
                F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4)
                .cast("double") / F.count("value")
            ).alias("__v")
        )
        .select(
            "event_type", F.unix_timestamp("__b").alias("__t"), "__v"
        )
    )
    a = b.select(
        "event_type", F.col("__t").alias("__t1"), F.col("__v").alias("__v1")
    )
    c = b.select(
        "event_type", F.col("__t").alias("__t2"), F.col("__v").alias("__v2")
    )
    ref = {
        r["event_type"]: r
        for r in a.join(c, on=["event_type"])
        .filter(F.col("__t2") > F.col("__t1"))
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile((__v2 - __v1) / CAST(__t2 - __t1 AS DOUBLE),"
                " 0.5)"
            ).alias("slope"),
            F.sum(
                F.signum(F.col("__v2") - F.col("__v1")).cast("long")
            ).alias("mk_s"),
        )
        .collect()
    }
    assert set(got) == {"odd", "even", "gap"} == set(ref)
    for k in ref:
        want = round(ref[k]["slope"], 15)
        have = got[k]["sen_slope_per_sec"]
        # round_to=12 -> round(x, 15) on the slope path; compare the
        # rounded doubles bitwise
        assert struct.pack("d", have) == struct.pack(
            "d", round(ref[k]["slope"], 15)
        ), (k, have, want)
        assert got[k]["mk_s"] == ref[k]["mk_s"]
    catalog.invalidate_all()


def test_kmeans_input_keyed_session_memo(spark, tmp_path):
    """r13: kmeans_cluster memoizes on the INPUT plan + params before
    the Lloyd loop (the loop runs collect() jobs at build time, so an
    output-keyed memo would still pay them). Second call returns the
    identical assignment without re-iterating; rewriting the parquet
    behind the same plan misses and re-fits."""
    import pyspark.sql.functions as F

    from fossil_spark.operators import ann

    path = str(tmp_path / "emb.parquet")

    def write(vecs):
        spark.createDataFrame(
            [(i, v, i % 2) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>, label int",
        ).write.mode("overwrite").parquet(path)

    write([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]])
    catalog.invalidate_all()

    def assign():
        emb = spark.read.parquet(path)
        return sorted(
            (r["vec_id"], r["cluster"])
            for r in ann.kmeans_cluster(emb, k=2, n_iter=1).collect()
        )

    first = assign()
    before = catalog.COUNTS.copy()
    assert assign() == first          # same session, same files: HIT
    assert catalog.COUNTS - before == Counter(hit=1)

    # different params -> different key (MISS), coexisting entry
    emb = spark.read.parquet(path)
    before = catalog.COUNTS.copy()
    ann.kmeans_cluster(emb, k=2, n_iter=2).collect()
    assert assign() == first
    assert catalog.COUNTS - before == Counter(miss=1, hit=1)

    # rewrite behind the same plan: MISS + fresh fit on the new data
    write([[0.0, 1.0], [1.0, 0.0], [0.05, 0.95], [0.95, 0.05]])
    fresh = assign()
    assert {v for _, v in fresh} == {0, 1}
    # vec 0 and 2 now point the same way and must co-cluster
    d = dict(fresh)
    assert d[0] == d[2] and d[1] == d[3] and d[0] != d[1]
    catalog.invalidate_all()


def test_bpe_chain_input_keyed_session_memo(spark, tmp_path):
    """r13: _bpe_chain memoizes (bests, syms) on the input plan +
    params so bpe_encode/vocab_coverage/tokenizer_fertility reuse the
    merge table bpe_train already learned. Hit returns identical
    merges; rewriting the parquet behind the same plan misses and
    relearns on the new corpus."""
    from fossil_spark.operators import text

    path = str(tmp_path / "docs.parquet")

    def write(rows):
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
        ).write.mode("overwrite").parquet(path)

    write(["low lower lowest", "low low newer", "wider new newer"])
    catalog.invalidate_all()

    def merges():
        docs = spark.read.parquet(path)
        return [
            (r["merge_round"], r["lhs"], r["rhs"])
            for r in text.bpe_train(docs, n_merges=3).collect()
        ]

    first = merges()
    assert catalog.size() == 1
    before = catalog.COUNTS.copy()
    assert merges() == first              # same session, same files: HIT
    assert catalog.COUNTS - before == Counter(hit=1)

    # different n_merges -> different key (MISS), coexisting entry
    docs = spark.read.parquet(path)
    before = catalog.COUNTS.copy()
    text.bpe_train(docs, n_merges=2).collect()
    assert merges() == first
    assert catalog.COUNTS - before == Counter(miss=1, hit=1)

    # rewrite behind the same plan: MISS + relearn on the new corpus
    write(["zz zz zzz", "zz zzz zzzz", "zzzz zz"])
    fresh = merges()
    assert fresh != first
    assert fresh[0][1:] == ("z", "z")  # 'zz' is the new top pair
    catalog.invalidate_all()


def test_label_propagation_input_keyed_session_memo(spark, tmp_path):
    """r13: label_propagation memoizes its propagated labels on the
    (pairs, seeds, params) input plans — graph_modularity reuses the
    table graph_label_prop just built instead of re-running the
    3-round propagation at plan-build time."""
    from fossil_spark.operators import graph

    pairs_path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    ).write.mode("overwrite").parquet(pairs_path)
    seeds = spark.createDataFrame(
        [(1, "a"), (10, "b")], "doc_id long, label string"
    )
    catalog.invalidate_all()

    def labels():
        pairs = spark.read.parquet(pairs_path)
        return sorted(
            (r["doc_id"], r["label"], r["is_seed"])
            for r in graph.label_propagation(
                pairs, seeds, n_rounds=2
            ).collect()
        )

    first = labels()
    assert dict((d, l) for d, l, _ in first) == {
        1: "a", 2: "a", 3: "a", 10: "b", 11: "b"
    }
    before = catalog.COUNTS.copy()
    assert labels() == first          # same session, same inputs: HIT
    assert catalog.COUNTS - before == Counter(hit=1)

    # different n_rounds -> different key (MISS), coexisting entry
    pairs = spark.read.parquet(pairs_path)
    before = catalog.COUNTS.copy()
    graph.label_propagation(pairs, seeds, n_rounds=1).collect()
    assert labels() == first
    assert catalog.COUNTS - before == Counter(miss=1, hit=1)
    catalog.invalidate_all()


def test_cosine_topk_engines_bit_identical(spark):
    """r13: the Arrow pair grid (the cogrouped numpy scorer behind
    knn_classify's 500-probe scan) must return the exact rows of
    cosine_topk's HOF path — same ids, same ranks, and bit-identical
    cos_sim. The explicit t-loop fold in _cosine_pairs_arrow
    reproduces the HOF fold order, so this holds bitwise, not just to
    tolerance."""
    import math
    import struct

    from fossil_spark.operators import ann

    # awkward magnitudes + a duplicate direction to exercise rounding
    # ties and the id tie-break
    vecs = [
        [math.sin(i * 0.7 + d) * 10.0 ** ((i + d) % 5 - 2) for d in range(6)]
        for i in range(40)
    ]
    vecs[7] = [2.0 * x for x in vecs[3]]  # exact colinear pair
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 9")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    arrow = rows(ann._cosine_topk_arrow(emb, q, k=4))
    hof = rows(ann.cosine_topk(emb, q, k=4))
    assert len(arrow) == len(hof)
    for x, y in zip(arrow, hof):
        assert x[:2] == y[:2] and x[3] == y[3]
        assert struct.pack("d", x[2]) == struct.pack("d", y[2])
