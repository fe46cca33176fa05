"""Round-12 operators: shingle novelty, source overlap, 2-hop reach,
post-stratified effect, IV/Wald, SPC capability. Every test checks a
hand-computed (or independently recomputed) answer, the new-operator
discipline of SURVEY §5."""

import math
from datetime import datetime, timedelta

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# text.ngram_novelty
# --------------------------------------------------------------------------

def test_ngram_novelty_first_occurrence_attribution(spark):
    """doc 1 introduces both of its shingles; doc 2 repeats one of
    doc 1's and adds one new; doc 3 (other source) repeats only.
    Novelty must attribute by MIN id across the whole corpus."""
    from fossil_spark.operators.text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a", "w x y z"),        # shingles: 'w x y', 'x y z'
            (2, "a", "x y z q"),        # 'x y z' (seen), 'y z q' (new)
            (3, "b", "w x y"),          # 'w x y' (seen in doc 1)
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in ngram_novelty(docs).collect()}
    assert out["a"]["n_docs"] == 2
    assert out["a"]["n_shingles"] == 4
    assert out["a"]["n_novel"] == 3      # both of doc 1 + 'y z q'
    assert out["a"]["novelty_rate"] == 0.75
    assert out["b"]["n_docs"] == 1
    assert out["b"]["n_shingles"] == 1
    assert out["b"]["n_novel"] == 0
    assert out["b"]["novelty_rate"] == 0.0


def test_ngram_novelty_short_doc_whole_text_shingle(spark):
    """A doc under n words contributes its whole text as ONE shingle
    (the dedup shingle convention)."""
    from fossil_spark.operators.text import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a", "hi there"), (2, "a", "hi there")],
        "doc_id long, source string, text string",
    )
    row = ngram_novelty(docs).collect()[0]
    assert (row["n_shingles"], row["n_novel"]) == (2, 1)
    assert row["novelty_rate"] == 0.5


# --------------------------------------------------------------------------
# text.source_overlap
# --------------------------------------------------------------------------

def test_source_overlap_containment_and_jaccard(spark):
    """Source a: shingles {p q r, q r s}; source b: {p q r} plus its
    own {z z z}. common = 1; containment a-in-b = 1/2, b-in-a = 1/2;
    jaccard = 1/3. Asymmetry shows when sizes differ."""
    from fossil_spark.operators.text import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "a", "p q r s"),   # shingles: 'p q r', 'q r s'
            (2, "b", "p q r"),     # 'p q r'
            (3, "b", "z z z"),     # 'z z z'
        ],
        "doc_id long, source string, text string",
    )
    out = {(r["source_a"], r["source_b"]): r
           for r in source_overlap(docs).collect()}
    ab = out[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (2, 2, 1)
    assert ab["containment_a_in_b"] == 0.5
    assert ab["jaccard"] == round(1 / 3, 6)
    ba = out[("b", "a")]
    assert (ba["n_a"], ba["n_b"], ba["n_common"]) == (2, 2, 1)
    # duplicate shingles within a source count once
    assert set(out) == {("a", "b"), ("b", "a")}


# --------------------------------------------------------------------------
# graph.two_hop_reach
# --------------------------------------------------------------------------

def test_two_hop_reach_path_and_clique(spark):
    """Path 1-2-3-4-5: endpoints reach 2, inner nodes reach 3-4 —
    amplification > 1. Triangle {10,11,12}: reach == degree == 2,
    amplification exactly 1 (closed family)."""
    from fossil_spark.operators.graph import two_hop_reach

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r for r in two_hop_reach(pairs).collect()}
    assert (out[1]["degree"], out[1]["reach_2hop"]) == (1, 2)   # 2, 3
    assert (out[2]["degree"], out[2]["reach_2hop"]) == (2, 3)   # 1,3,4
    assert (out[3]["degree"], out[3]["reach_2hop"]) == (2, 4)   # all
    assert out[3]["amplification"] == 2.0
    for n in (10, 11, 12):
        assert (out[n]["degree"], out[n]["reach_2hop"]) == (2, 2)
        assert out[n]["amplification"] == 1.0


def test_two_hop_reach_center_truncation(spark):
    """Hub 100 with 4 leaves at cap 3: leaves lose their hub-mediated
    distance-2 siblings but keep the direct hub edge; the hub's own
    row keeps full degree."""
    from fossil_spark.operators.graph import two_hop_reach

    pairs = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (100, 4)],
        "doc_a long, doc_b long",
    )
    exact = {r["doc_id"]: r["reach_2hop"]
             for r in two_hop_reach(pairs).collect()}
    assert exact[1] == 4          # hub + 3 siblings
    assert exact[100] == 4
    capped = {r["doc_id"]: r["reach_2hop"]
              for r in two_hop_reach(
                  pairs, max_center_degree=3).collect()}
    assert capped[1] == 1         # only the direct hub edge survives
    assert capped[100] == 4       # leaves (deg 1) still serve as centers


# --------------------------------------------------------------------------
# analytics.stratified_effect / iv_wald (recomputed independently in
# pandas from the same md5 split)
# --------------------------------------------------------------------------

def _md5_variant(uid: int) -> int:
    import hashlib

    return int(hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:8], 16) % 2


def test_stratified_effect_matches_pandas(spark, tmp_path):
    """10 strata over 40 users with deterministic outcomes; every
    stratum row recomputed with plain python from the same split."""
    from fossil_spark.queries.analytics import stratified_effect

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(1, 41):
        for j in range(uid % 5 + 1):     # 1..5 events -> activity strata
            rows.append((eid, t0 + timedelta(minutes=eid), uid,
                         "view", float(uid)))
            eid += 1
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    ).write.parquet(sf + "/events.parquet")

    got = {r["stratum"]: r for r in stratified_effect(spark, sf).collect()}

    # independent recomputation
    import collections

    per = {uid: (uid % 5 + 1, float(uid) * (uid % 5 + 1))
           for uid in range(1, 41)}
    order = sorted(per, key=lambda u: (per[u][0], u))
    n = len(order)
    base, extra = divmod(n, 10)
    strata = {}
    pos = 0
    for s in range(1, 11):
        size = base + (1 if s <= extra else 0)
        for u in order[pos:pos + size]:
            strata[u] = s
        pos += size
    agg = collections.defaultdict(lambda: [0, 0, 0.0, 0.0])
    for u, (nev, y) in per.items():
        s, v = strata[u], _md5_variant(u)
        if v == 0:
            agg[s][0] += 1
            agg[s][2] += y
        else:
            agg[s][1] += 1
            agg[s][3] += y
    for s, (na, nb, sa, sb) in agg.items():
        r = got[s]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        if na:
            assert r["mean_a"] == round(sa / na, 6)
        else:
            assert r["mean_a"] is None
        if nb:
            assert r["mean_b"] == round(sb / nb, 6)
        else:
            assert r["mean_b"] is None
        assert r["weight"] == round((na + nb) / n, 6)


def test_iv_wald_matches_hand_computation(spark, tmp_path):
    """LATE = ITT_Y / ITT_D recomputed by hand from the md5 split:
    purchasers get value 10 each, everyone gets a base view of 1."""
    from fossil_spark.queries.analytics import iv_wald

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(1, 31):
        rows.append((eid, t0, uid, "view", 1.0))
        eid += 1
        if uid % 3 == 0:                  # every third user purchases
            rows.append((eid, t0, uid, "purchase", 10.0))
            eid += 1
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    ).write.parquet(sf + "/events.parquet")

    r = iv_wald(spark, sf).collect()[0]
    y = {u: 11.0 if u % 3 == 0 else 1.0 for u in range(1, 31)}
    d = {u: 1 if u % 3 == 0 else 0 for u in range(1, 31)}
    z = {u: _md5_variant(u) for u in range(1, 31)}
    n1 = sum(1 for u in z if z[u] == 1)
    n0 = 30 - n1
    itt_y = (sum(y[u] for u in z if z[u] == 1) / n1
             - sum(y[u] for u in z if z[u] == 0) / n0)
    itt_d = (sum(d[u] for u in z if z[u] == 1) / n1
             - sum(d[u] for u in z if z[u] == 0) / n0)
    assert r["n_users"] == 30
    assert r["itt_y"] == round(itt_y, 6)
    assert r["itt_d"] == round(itt_d, 6)
    if itt_d != 0:
        assert r["late"] == round(itt_y / itt_d, 6)
    else:
        assert r["late"] is None


# --------------------------------------------------------------------------
# timeseries.capability
# --------------------------------------------------------------------------

def test_capability_known_sigma(spark):
    """Hourly means 40/60 alternating over 10 buckets: mu = 50,
    sigma = 10. Spec [20, 80]: Cp = 60/60 = 1, Cpk = 30/30 = 1
    (centered), not capable at 1.33. Spec [20, 110] shifts the
    center: Cpk = min(60, 30)/30 = 1 while Cp = 1.5."""
    from fossil_spark.operators.timeseries import capability

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + timedelta(hours=i), "m",
          40.0 if i % 2 == 0 else 60.0) for i in range(10)],
        "time timestamp, topic string, value double",
    )
    r = capability(df, 20.0, 80.0, by=["topic"]).collect()[0]
    assert r["n_buckets"] == 10
    assert r["mean"] == 50.0 and r["sigma"] == 10.0
    assert r["cp"] == 1.0 and r["cpk"] == 1.0
    assert r["capable_133"] is False
    r2 = capability(df, 20.0, 110.0, by=["topic"]).collect()[0]
    assert r2["cp"] == 1.5 and r2["cpk"] == 1.0


def test_capability_flatline_null(spark):
    """A flatline key (sigma 0) reports NULL indices instead of
    raising under ANSI — the try_divide contract."""
    from fossil_spark.operators.timeseries import capability

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + timedelta(hours=i), "m", 42.0) for i in range(5)],
        "time timestamp, topic string, value double",
    )
    r = capability(df, 0.0, 100.0, by=["topic"]).collect()[0]
    assert r["sigma"] == 0.0
    assert r["cp"] is None and r["cpk"] is None
    assert r["capable_133"] is None


# --------------------------------------------------------------------------
# ann session memo / truth catalog invariants
# --------------------------------------------------------------------------

def test_ann_memo_and_truth_catalog_invariants(spark):
    """Pins the cache semantics the retrieval-audit speedup rests on:
    same-session same-plan hits return the SAME persisted frame;
    different plans never share; topk_truth at k<=10 is bitwise the
    rank filter of the materialized 10-truth; invalidate unpersists
    and clears."""
    from fossil_spark.operators import ann

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(4)])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 3")

    from collections import Counter

    from fossil_spark import catalog

    catalog.invalidate_all()
    before = catalog.COUNTS.copy()
    t5 = ann.topk_truth(emb, q, k=5)
    t5_again = ann.topk_truth(emb, q, k=5)
    # the underlying memo entry is shared (one materialization);
    # k=10 reads the same persisted table unfiltered
    t10 = ann.topk_truth(emb, q, k=10)
    assert catalog.COUNTS - before == Counter(miss=1, hit=2)
    assert catalog.size() == 1
    got5 = sorted(map(tuple, t5.collect()))
    got5_again = sorted(map(tuple, t5_again.collect()))
    assert got5 == got5_again
    # rank filter of the 10-truth == direct brute force at k=5
    direct = sorted(
        map(tuple, ann.cosine_topk(emb, q, k=5).collect())
    )
    assert got5 == direct
    assert {r["rank"] for r in t10.collect()} == set(range(1, 11))

    # a semantically DIFFERENT query set must not share the entry
    q2 = emb.filter("vec_id < 4")
    before = catalog.COUNTS.copy()
    ann.topk_truth(emb, q2, k=5).collect()
    assert catalog.COUNTS - before == Counter(miss=1)
    assert catalog.size() == 2

    # invalidate unpersists and clears every entry
    persisted = ann.topk_truth(emb, q, k=10)
    assert persisted.is_cached
    catalog.invalidate_all()
    assert catalog.size() == 0
    assert persisted.storageLevel.useMemory is False
    # and the catalog rebuilds cleanly afterwards
    assert sorted(map(tuple, ann.topk_truth(emb, q, k=5).collect())) \
        == got5
    catalog.invalidate_all()
