"""Round-14 regression tests: memo size-cap admission, the chunked /
vector-hygiene Arrow cosine grid, LSH membership equivalence, and the
join-free jaccard-estimate restructure."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from fossil_spark import catalog


# --------------------------------------------------------------------------
# memo size-aware admission (r13 verdict #3): entries whose plan reads
# more than SPARK_GRAFT_MEMO_MAX_BYTES of leaf input are not pinned
# --------------------------------------------------------------------------

def _write_docs(spark, path: str, n: int = 40) -> None:
    rows = [
        (i, f"alpha beta gamma delta {i % 7} common tail words here")
        for i in range(n)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def test_memo_size_cap_rejects_large_inputs(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "docs.parquet")
    _write_docs(spark, path)
    df = spark.read.parquet(path).select("doc_id", F.length("text").alias("n"))

    catalog.invalidate_all()
    monkeypatch.setenv("SPARK_GRAFT_MEMO_MAX_BYTES", "1")
    before = catalog.COUNTS.copy()
    out = catalog.memo(df, tag="cap-test")
    # rejected: no cache entry, result not persisted, rows still right
    assert catalog.COUNTS - before == Counter(miss=1, reject=1)
    assert catalog.size() == 0
    assert out.storageLevel.useMemory is False
    assert out.count() == 40

    monkeypatch.setenv("SPARK_GRAFT_MEMO_MAX_BYTES", str(8 * 1024**3))
    out2 = catalog.memo(df, tag="cap-test")
    assert catalog.size() == 1
    assert out2.count() == 40
    catalog.invalidate_all()


def test_memo_cap_unknown_size_admits(spark, monkeypatch):
    """In-memory plans (no file leaves) have unknown size and must
    keep memoizing — the cap stops KNOWN-huge tables only."""
    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    assert catalog.Slot("mem-test", df).nbytes is None
    catalog.invalidate_all()
    monkeypatch.setenv("SPARK_GRAFT_MEMO_MAX_BYTES", "1")
    before = catalog.COUNTS.copy()
    catalog.memo(df, tag="mem-test")
    assert catalog.COUNTS - before == Counter(miss=1)
    assert catalog.size() == 1
    catalog.invalidate_all()


# --------------------------------------------------------------------------
# Arrow cosine grid: corpus-axis chunking is bit-identical (r13 verdict
# #6) and null/ragged vectors are dropped instead of crashing the
# worker (r13 ADVICE)
# --------------------------------------------------------------------------

def _emb(spark, n: int = 40, dim: int = 8):
    return spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) + 0.25 * j for j in range(dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )


def test_cosine_topk_arrow_chunked_bit_identical(spark, monkeypatch):
    from fossil_spark.operators import ann

    emb = _emb(spark)
    q = emb.filter("vec_id < 6")

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["cos_sim"], r["rank"])
            for r in df.collect()
        )

    hof = rows(ann.cosine_topk(emb, q, k=5))
    big = rows(ann._cosine_topk_arrow(emb, q, k=5, dim=8))
    # force many tiny corpus chunks inside every cogroup
    monkeypatch.setattr(ann, "_ARROW_PAIR_CELLS", 7)
    small = rows(ann._cosine_topk_arrow(emb, q, k=5, dim=8))
    assert big == hof
    assert small == big


def test_cosine_topk_arrow_drops_null_and_ragged(spark):
    """Null and wrong-width vectors: the Arrow pair grid must not crash
    and must rank the clean rows exactly like a clean-only corpus.
    (The HOF path yields null scores for the malformed rows, which
    the rank window sorts last — on clean data the two agree; this
    pins the Arrow grid's documented drop semantics.)"""
    from fossil_spark.operators import ann

    clean = _emb(spark, n=20, dim=4)
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(100, None), (101, [1.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
    )
    q = clean.filter("vec_id < 3")

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["cos_sim"], r["rank"])
            for r in df.collect()
        )

    want = rows(ann._cosine_topk_arrow(clean, q, k=4, dim=4))
    got = rows(ann._cosine_topk_arrow(dirty, q, k=4, dim=4))
    assert got == want


def test_cosine_topk_arrow_width_from_smallest_id(spark):
    """Without `dim`, the Arrow pair grid keeps the width of the corpus
    vector with the smallest id: a ragged corpus ranks exactly like
    its clean-only part under any partitioning, including when a
    ragged row comes first in its partition."""
    from fossil_spark.operators import ann

    clean = _emb(spark, n=20, dim=4)
    ragged = spark.createDataFrame(
        [(100 + i, [1.0, float(i)]) for i in range(8)]
        + [(200, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    q = clean.filter("vec_id < 3").unionByName(
        ragged.filter("vec_id = 100")
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["cos_sim"], r["rank"])
            for r in df.collect()
        )

    want = rows(ann._cosine_topk_arrow(clean, q, k=4))
    assert {r[0] for r in want} == {0, 1, 2}
    for dirty in (
        ragged.unionByName(clean).repartition(1),
        ragged.unionByName(clean).repartition(3, "vec_id"),
    ):
        assert rows(ann._cosine_topk_arrow(dirty, q, k=4)) == want


# --------------------------------------------------------------------------
# lsh_membership == the id set of minhash_lsh_pairs (the source_health
# substrate: membership without pair explosion or component labeling)
# --------------------------------------------------------------------------

def test_lsh_membership_matches_pair_ids(spark, tmp_path):
    from fossil_spark.operators import dedup

    path = str(tmp_path / "docs.parquet")
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
    rows += [(10 + i, f"unique document number {i} with its own words {i*13}")
             for i in range(20)]
    rows += [(50 + i, "lorem ipsum dolor sit amet consectetur") for i in range(4)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    catalog.invalidate_all()
    pairs = dedup.minhash_lsh_pairs(docs)
    want = sorted(
        set(r["doc_a"] for r in pairs.collect())
        | set(r["doc_b"] for r in pairs.collect())
    )
    got = sorted(r["doc_id"] for r in dedup.lsh_membership(docs).collect())
    assert got == want
    assert len(got) >= 10  # the two planted dup families are members
    catalog.invalidate_all()


# --------------------------------------------------------------------------
# minhash_jaccard_estimate: the signatures-ride-along shape must equal
# the old joined shape (pair set + per-pair agreement count)
# --------------------------------------------------------------------------

def test_jaccard_estimate_matches_joined_reference(spark, tmp_path):
    from fossil_spark.operators import dedup

    path = str(tmp_path / "docs.parquet")
    rows = [(i, "shared boilerplate text block repeated verbatim") for i in range(5)]
    rows += [(20 + i, f"distinct content {i} nothing alike {i*31}") for i in range(10)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    catalog.invalidate_all()
    est = dedup.minhash_jaccard_estimate(docs).collect()
    got = sorted((r["doc_a"], r["doc_b"], r["n_match"], r["jaccard_est"]) for r in est)

    # reference: pairs + two signature joins (the pre-r14 shape)
    sigs = dedup._signature_matrix(docs, "text", "doc_id", 8, 3)
    pairs = dedup._pairs_from_sigs(sigs, "doc_id", 8, 2)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"__mh{s}").alias(f"__a{s}") for s in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"__mh{s}").alias(f"__b{s}") for s in range(8)],
    )
    n_match = sum(
        (F.col(f"__a{s}") == F.col(f"__b{s}")).cast("long") for s in range(8)
    )
    ref = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", n_match.alias("n_match"),
            F.round(n_match.cast("double") / F.lit(8.0), 6).alias("jaccard_est"),
        )
        .collect()
    )
    want = sorted((r["doc_a"], r["doc_b"], r["n_match"], r["jaccard_est"]) for r in ref)
    assert got == want
    assert len(got) > 0
    catalog.invalidate_all()


# --------------------------------------------------------------------------
# rolling rank-median engines (hampel / rolling_median): the value type
# picks the engine, and the numpy path must be bit-identical to the JVM
# window shape — full frames only, nulls included
# --------------------------------------------------------------------------

def _spiky_events(spark):
    from datetime import datetime, timedelta

    rows = []
    base = datetime(2030, 1, 1)
    for key in ("a", "b"):
        for i in range(60):
            # deterministic wiggle + planted spikes; exact float ties
            # included (i%5 repeats values) to bait ordering bugs
            v = float((i * 7) % 5) + (50.0 if i in (20, 41) else 0.0)
            t = base + timedelta(minutes=i)
            # one null value (key a) and one null timestamp (key b):
            # windows holding the null drop, the null-time row sorts last
            if key == "a" and i == 30:
                v = None
            if key == "b" and i == 45:
                t = None
            rows.append((key, t, v, i))
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, event_id long"
    )


_RANK_ARGS = dict(window_rows=11, time_col="ts", by=["event_type"],
                  value_col="value", order_tiebreak=["event_id"])


def _str_rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hampel_engines_bit_identical(spark):
    from fossil_spark.operators import timeseries as ts

    ev = _spiky_events(spark)
    cols = ("event_type", "ts", "value", "event_id", "__med", "__mad")
    hof = _str_rows(ts._rolling_rank_hof(ev, want_mad=True, **_RANK_ARGS), cols)
    arr = _str_rows(
        ts._rolling_rank_arrow(ev, want_mad=True, **_RANK_ARGS), cols
    )
    assert arr == hof
    # key a: the null at i=30 empties the 11 frames ending at 30..40;
    # key b: the null-time row is the last of 60, all 50 frames full
    assert len(hof) == 39 + 50
    assert all(r[2] != "None" for r in hof)
    flagged = ts.hampel(ev, k=2.0, **_RANK_ARGS)
    assert "FlatMapGroupsInPandas" in _plan(flagged)  # doubles -> numpy
    assert flagged.count() >= 2  # the planted spikes flag


def test_rolling_median_engines_bit_identical(spark):
    from fossil_spark.operators import timeseries as ts

    ev = _spiky_events(spark)
    cols = ("event_type", "ts", "value", "event_id", "__med")
    hof = _str_rows(
        ts._rolling_rank_hof(ev, want_mad=False, **_RANK_ARGS), cols
    )
    arr = _str_rows(
        ts._rolling_rank_arrow(ev, want_mad=False, **_RANK_ARGS), cols
    )
    assert arr == hof
    out = ts.rolling_median(ev, **_RANK_ARGS)
    assert len(hof) == out.count() == 39 + 50
    # the null-time row (key b, i=45) ends the last full frame
    assert ("b", "None") in {(r[0], r[1]) for r in hof}


def test_rank_window_engine_follows_value_type(spark):
    from pyspark.sql import types as T

    from fossil_spark.operators import timeseries as ts

    ev = _spiky_events(spark).filter("event_type = 'a'")
    kw = dict(_RANK_ARGS, by=[])
    # doubles run the numpy windows, with no by-keys as one group
    dbl = ts.rolling_median(ev, **kw)
    assert "FlatMapGroupsInPandas" in _plan(dbl)
    # longs run the JVM windows, which keep the value type
    ev_long = ev.withColumn("value", F.col("value").cast("long"))
    lng = ts.rolling_median(ev_long, **kw)
    assert "FlatMapGroupsInPandas" not in _plan(lng)
    assert isinstance(lng.schema["rolling_median"].dataType, T.LongType)
    # integral values: both engines select the same medians
    cols = ("ts", "rolling_median")
    assert _str_rows(lng, cols) == [
        (t, str(int(float(m)))) for t, m in _str_rows(dbl, cols)
    ]
    assert lng.count() == 60 - 10 - 11
