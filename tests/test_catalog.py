"""Session result catalog (fossil_spark.catalog): LRU eviction, size
admission measured from the file index listing, and the benchmark's
memo-cold contract."""

import glob
import os
from collections import Counter

from pyspark.sql import functions as F

from fossil_spark import catalog


def test_catalog_lru_eviction_and_invalidate(spark):
    catalog.invalidate_all()
    frames = [
        spark.range(3).withColumn("i", F.lit(i))
        for i in range(catalog.MAX_ENTRIES + 1)
    ]
    f0 = catalog.memo(frames[0])
    f1 = catalog.memo(frames[1])
    before = catalog.COUNTS.copy()
    assert catalog.memo(frames[0]) is f0  # same plan: the stored frame
    assert catalog.COUNTS - before == Counter(hit=1)

    # one insert past the cap evicts the least recently USED entry:
    # frames[1], since the hit above refreshed frames[0]
    for df in frames[2:]:
        catalog.memo(df)
    assert catalog.size() == catalog.MAX_ENTRIES
    assert all(owner is spark for owner, _ in catalog._ENTRIES.values())
    assert not f1.is_cached  # evicted entries are unpersisted
    before = catalog.COUNTS.copy()
    assert catalog.memo(frames[0]) is f0
    assert catalog.COUNTS - before == Counter(hit=1)

    catalog.invalidate_all()
    assert catalog.size() == 0
    assert not f0.is_cached


def test_size_cap_measures_paths_that_need_escaping(
        spark, tmp_path, monkeypatch):
    """Leaf bytes come from the file index listing. A path that
    os.stat cannot open as written (here a space, which inputFiles()
    URL-encodes; likewise s3:// or hdfs://) used to measure 0 bytes
    and slip under any cap."""
    path = str(tmp_path / "my docs.parquet")
    spark.range(40).selectExpr("id", "id * 2 AS v").coalesce(2).write.parquet(
        path)
    on_disk = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    assert catalog.Slot("t", df).nbytes == on_disk > 0
    # a self-join reads each file twice but counts it once
    assert catalog.Slot("t", df.join(df, "id")).nbytes == on_disk

    catalog.invalidate_all()
    monkeypatch.setenv("SPARK_GRAFT_MEMO_MAX_BYTES", "1")
    before = catalog.COUNTS.copy()
    out = catalog.memo(df, tag="space")
    assert catalog.COUNTS - before == Counter(miss=1, reject=1)
    assert catalog.size() == 0
    assert out.storageLevel.useMemory is False
    assert sorted(tuple(r) for r in out.collect()) == [
        (i, 2 * i) for i in range(40)]


def test_clear_session_memos_leaves_every_consumer_cold(spark):
    """bench.clear_session_memos() is the benchmark's memo-cold
    switch: after it, no consumer of the catalog hits."""
    import bench

    from fossil_spark.operators import dedup, graph, text

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "totally different words here nothing shared at all")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    seeds = spark.createDataFrame([(1, "a")], "doc_id long, label string")

    def run_consumers():
        catalog.memo(docs, tag="cold")
        dedup.neardup_components(docs)
        text._bpe_chain(docs, 2, "text")
        graph.label_propagation(pairs, seeds, n_rounds=1)

    catalog.invalidate_all()
    run_consumers()
    assert catalog.size() >= 4
    before = catalog.COUNTS.copy()
    run_consumers()
    assert catalog.COUNTS - before == Counter(hit=4)

    bench.clear_session_memos()
    assert catalog.size() == 0  # so no consumer's next call can hit
    before = catalog.COUNTS.copy()
    catalog.memo(docs, tag="cold")
    assert catalog.COUNTS - before == Counter(miss=1)
    catalog.invalidate_all()
