"""Structured Streaming ingest + rollup, exercised with availableNow
triggers over file sources under build/ (never /tmp or testdata)."""

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from fossil_spark.store import EventStore
from fossil_spark.streaming.ingest import read_json_dropbox, write_to_store
from fossil_spark.streaming.rollup import windowed_rollup


@pytest.fixture()
def workdir():
    d = os.path.join("build", f"stream_test_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_to_store(spark, workdir):
    src = os.path.join(workdir, "incoming")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "batch1.json"), [
        {"time": "2024-01-01T00:00:00", "topic": "/logs", "value": "a"},
        {"time": "2024-01-01T01:00:00", "topic": "/logs/web", "value": "b"},
    ])
    _write_jsonl(os.path.join(src, "batch2.json"), [
        {"time": "2024-01-02T05:00:00", "topic": "/metrics", "value": "42"},
    ])

    store_root = os.path.join(workdir, "store")
    q = write_to_store(
        read_json_dropbox(spark, src),
        store_root,
        os.path.join(workdir, "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    store = EventStore(spark, store_root)
    rows = store.read().collect()
    assert len(rows) == 3
    assert {r["topic"] for r in rows} == {"/logs", "/logs/web", "/metrics"}
    # date partitioning materialized (pruning works for streamed data)
    assert os.path.isdir(os.path.join(store_root, "date=2024-01-01"))
    assert os.path.isdir(os.path.join(store_root, "date=2024-01-02"))

    # FQL works on streamed data
    got = store.query("all in /logs").count()
    assert got == 2

    # a bounded query reads the sink root through its commit log, so a
    # file the sink never committed stays unread
    day = os.path.join(store_root, "date=2024-01-01")
    committed = next(f for f in os.listdir(day) if f.endswith(".parquet"))
    shutil.copy(os.path.join(day, committed), os.path.join(day, "part-uncommitted.parquet"))
    bounded = store.query("all in /logs since ~(2024-01-01T00:00:00Z)",
                          now=datetime(2024, 1, 3, tzinfo=timezone.utc))
    assert bounded.count() == 2
    assert "MetadataLogFileIndex" in bounded._jdf.queryExecution().toString()
    os.remove(os.path.join(day, "part-uncommitted.parquet"))

    # exactly-once: re-running the same availableNow query ingests nothing new
    q2 = write_to_store(
        read_json_dropbox(spark, src),
        store_root,
        os.path.join(workdir, "ckpt"),
        trigger_available_now=True,
    )
    q2.awaitTermination(120)
    assert store.read().count() == 3


def test_windowed_rollup(spark, workdir):
    src = os.path.join(workdir, "incoming")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b.json"), [
        {"time": "2024-01-01T00:10:00", "topic": "/t", "value": "1"},
        {"time": "2024-01-01T00:50:00", "topic": "/t", "value": "3"},
        {"time": "2024-01-01T01:10:00", "topic": "/t", "value": "5"},
    ])
    stream = read_json_dropbox(spark, src).withColumn(
        "value", F.col("value").cast("double")
    )
    rolled = windowed_rollup(stream, "1 hour", "2 hours")
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    q = (
        rolled.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r["bucket"]): (r["n"], r["avg_value"]) for r in
            spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows["2024-01-01 00:00:00"] == (2, 2.0)
    assert rows["2024-01-01 01:00:00"] == (1, 5.0)


def test_windowed_rollup_append_mode(spark, workdir):
    # append mode requires the watermark linkage to survive the
    # aggregation — grouping by window().start used to throw
    # STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION here
    src = os.path.join(workdir, "incoming")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b.json"), [
        {"time": "2024-01-01T00:10:00", "topic": "/t", "value": "2"},
        {"time": "2024-01-01T00:20:00", "topic": "/t", "value": "4"},
        # closer far in the future so the first window finalizes
        {"time": "2024-01-02T00:00:00", "topic": "/close", "value": "0"},
    ])
    stream = read_json_dropbox(spark, src).withColumn(
        "value", F.col("value").cast("double")
    )
    rolled = windowed_rollup(stream, "1 hour", "1 minute")
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    q = (
        rolled.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r["bucket"]): (r["n"], r["avg_value"]) for r in
            spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows["2024-01-01 00:00:00"] == (2, 3.0)


def test_curate_stream_matches_batch_semantics(spark, workdir):
    # the streaming curation pipeline produces the batch pipeline's
    # chunks (up to the documented duplicate-keeper difference)
    import json

    from fossil_spark.pipelines import curate_corpus, curate_stream

    docs = [
        {"doc_id": 1, "text": "the cat sat on the mat and it was a good day "
                              "for all of the cats in the house"},
        {"doc_id": 2, "text": "zzzzzzzzzzzz qqqqqqqqqq xxxxxxxxxxxx"},  # low quality
        {"doc_id": 3, "text": "the cat sat on the mat and it was a good day "
                              "for all of the cats in the house"},  # dup of 1
        {"doc_id": 4, "text": "it is a truth that the people of the town "
                              "were known for the quality of their work"},
    ]
    src = os.path.join(workdir, "docs_in")
    os.makedirs(src)
    with open(os.path.join(src, "d.json"), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(src)
    )
    out = curate_stream(stream)
    name = f"curate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT * FROM {name}").collect()
    got_ids = {r["doc_id"] for r in got}
    # low-quality doc 2 rejected; exactly one of the duplicate pair kept
    assert 4 in got_ids and 2 not in got_ids
    assert len(got_ids & {1, 3}) == 1

    batch = curate_corpus(spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )).collect()
    batch_key = {(r["chunk_idx"], r["chunk"], r["quality"], r["pred_lang"])
                 for r in batch}
    stream_key = {(r["chunk_idx"], r["chunk"], r["quality"], r["pred_lang"])
                  for r in got}
    assert batch_key == stream_key


def test_streaming_exact_dedup_within_watermark(spark, workdir):
    from datetime import timedelta

    from fossil_spark.streaming.dedup import streaming_exact_dedup

    src = os.path.join(workdir, "docs_in")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b1.json"), [
        {"time": "2024-01-01T00:00:00", "doc_id": 1, "text": "Same   Doc"},
        {"time": "2024-01-01T00:00:30", "doc_id": 2, "text": "same doc"},
        {"time": "2024-01-01T00:01:00", "doc_id": 3, "text": "unique one"},
    ])
    stream = (
        spark.readStream.schema("time timestamp, doc_id long, text string")
        .json(src)
    )
    out_dir = os.path.join(workdir, "out")
    q = (
        streaming_exact_dedup(stream, timedelta(minutes=10), "time", "text")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(workdir, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    # docs 1 and 2 normalize to the same hash -> one survivor
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} <= {1, 2, 3}
    assert len({r["text_hash"] for r in rows}) == 2


def test_streaming_exact_dedup_global(spark, workdir):
    from fossil_spark.streaming.dedup import streaming_exact_dedup_global

    src = os.path.join(workdir, "docs_in2")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b1.json"), [
        {"time": "2024-01-01T00:00:00", "doc_id": 1, "text": "alpha"},
        {"time": "2024-01-03T00:00:00", "doc_id": 2, "text": "ALPHA"},
    ])
    stream = (
        spark.readStream.schema("time timestamp, doc_id long, text string")
        .json(src)
    )
    out_dir = os.path.join(workdir, "out2")
    q = (
        streaming_exact_dedup_global(stream, "text")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(workdir, "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 1


def test_streaming_anomaly_alerts_on_deviant_window(spark, workdir):
    from fossil_spark.streaming.anomaly import baseline_stats, streaming_anomaly

    # history: /t hovers around 10 (std ~ small); /u around 100
    hist = spark.createDataFrame(
        [("/t", 10.0 + 0.1 * (i % 5)) for i in range(50)]
        + [("/u", 100.0 + (i % 3)) for i in range(30)],
        "topic string, value double",
    )
    base = baseline_stats(hist)
    by_key = {r["topic"]: r for r in base.collect()}
    assert by_key["/t"]["base_mean"] == pytest.approx(10.2, abs=0.01)
    assert by_key["/t"]["base_std"] < 1.0

    src = os.path.join(workdir, "live")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "a.json"), [
        # normal window for /t
        {"time": "2024-01-01T00:10:00", "topic": "/t", "value": "10.1"},
        {"time": "2024-01-01T00:20:00", "topic": "/t", "value": "10.3"},
        # anomalous window for /t (mean 99 vs baseline ~10)
        {"time": "2024-01-01T02:10:00", "topic": "/t", "value": "99.0"},
        # /u stays normal
        {"time": "2024-01-01T00:15:00", "topic": "/u", "value": "101.0"},
        # unknown key: no baseline -> dropped
        {"time": "2024-01-01T00:15:00", "topic": "/new", "value": "5.0"},
    ])
    stream = read_json_dropbox(spark, src).withColumn(
        "value", F.col("value").cast("double")
    )
    alerts = streaming_anomaly(stream, base, threshold=3.5, every="1 hour",
                               watermark="2 hours")
    name = f"alerts_{uuid.uuid4().hex[:8]}"
    q = (
        alerts.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) == 1
    [r] = rows
    assert r["topic"] == "/t" and str(r["bucket"]) == "2024-01-01 02:00:00"
    assert r["deviation_sigmas"] > 100


def test_streaming_anomaly_append_mode(spark, workdir):
    """The docstring-prescribed path: output mode `append`, where the
    watermark (not `complete`-mode re-emission) closes windows. Three
    single-file micro-batches (maxFilesPerTrigger=1): batch 1 carries
    the anomalous window, batches 2-3 advance the watermark past its
    end so append emits it exactly once."""
    from fossil_spark.streaming.anomaly import baseline_stats, streaming_anomaly

    hist = spark.createDataFrame(
        [("/t", 10.0 + 0.1 * (i % 5)) for i in range(50)],
        "topic string, value double",
    )
    base = baseline_stats(hist)

    src = os.path.join(workdir, "live_append")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "a.json"), [
        {"time": "2024-01-01T00:10:00", "topic": "/t", "value": "10.1"},
        {"time": "2024-01-01T02:10:00", "topic": "/t", "value": "99.0"},
    ])
    # watermark advancers: batch N's watermark is batch N-1's max event
    # time minus the delay, so two more batches push it past 03:00
    _write_jsonl(os.path.join(src, "b.json"), [
        {"time": "2024-01-01T08:00:00", "topic": "/t", "value": "10.2"},
    ])
    _write_jsonl(os.path.join(src, "c.json"), [
        {"time": "2024-01-01T08:01:00", "topic": "/t", "value": "10.2"},
    ])
    stream = (
        spark.readStream.schema("time timestamp, topic string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("value", F.col("value").cast("double"))
    )
    alerts = streaming_anomaly(stream, base, threshold=3.5, every="1 hour",
                               watermark="2 hours")
    name = f"alerts_append_{uuid.uuid4().hex[:8]}"
    q = (
        alerts.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) == 1
    [r] = rows
    assert r["topic"] == "/t" and str(r["bucket"]) == "2024-01-01 02:00:00"
    assert r["deviation_sigmas"] > 100


def test_streaming_psi_drift_append_mode(spark, workdir):
    """Streaming PSI vs a batch reference profile, in the documented
    append mode: the 00:00 window replays the reference distribution
    (psi ~ 0), the 02:00 window is shifted +500 (psi >> 0.2, drifted);
    two advancer batches push the watermark past both windows so
    append emits each exactly once. Unknown keys are dropped."""
    from fossil_spark.streaming.drift import reference_profile, streaming_psi

    hist = spark.createDataFrame(
        [("/t", (i * 37 % 100) / 10.0) for i in range(300)],
        "topic string, value double",
    )
    prof = reference_profile(hist)
    [p] = prof.collect()
    assert len(p["edges"]) == 9 and len(p["ref_fracs"]) == 10
    assert abs(sum(p["ref_fracs"]) - 1.0) < 1e-9

    src = os.path.join(workdir, "live_psi")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "a.json"), [
        {"time": f"2024-01-01T00:{m:02d}:00", "topic": "/t",
         "value": str((m * 37 % 100) / 10.0)}
        for m in range(50)
    ] + [
        {"time": f"2024-01-01T02:{m:02d}:00", "topic": "/t",
         "value": str(500.0 + (m * 37 % 100) / 10.0)}
        for m in range(50)
    ] + [
        {"time": "2024-01-01T00:30:00", "topic": "/unknown", "value": "1.0"},
    ])
    _write_jsonl(os.path.join(src, "b.json"), [
        {"time": "2024-01-01T08:00:00", "topic": "/t", "value": "5.0"},
    ])
    _write_jsonl(os.path.join(src, "c.json"), [
        {"time": "2024-01-01T08:01:00", "topic": "/t", "value": "5.0"},
    ])
    stream = (
        spark.readStream.schema("time timestamp, topic string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("value", F.col("value").cast("double"))
    )
    out = streaming_psi(stream, prof, every="1 hour", watermark="2 hours")
    name = f"psi_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {str(r["bucket"]): r for r in
            spark.sql(f"SELECT * FROM {name}").collect()}
    assert set(rows) == {"2024-01-01 00:00:00", "2024-01-01 02:00:00"}
    stable = rows["2024-01-01 00:00:00"]
    shifted = rows["2024-01-01 02:00:00"]
    assert stable["n"] == 50 and not stable["drifted"]
    assert stable["psi"] < 0.1
    assert shifted["drifted"] and shifted["psi"] > 1.0


def test_streaming_heavy_hitters_topk_per_window(spark, workdir):
    from fossil_spark.streaming.heavy_hitters import (
        topk_batch, windowed_key_counts,
    )

    src = os.path.join(workdir, "hh_incoming")
    os.makedirs(src)
    events = (
        [{"time": "2024-01-01T00:00:10", "topic": "/hot", "value": "1"}] * 5
        + [{"time": "2024-01-01T00:00:20", "topic": "/warm", "value": "1"}] * 3
        + [{"time": "2024-01-01T00:00:30", "topic": "/cold", "value": "1"}]
        + [{"time": "2024-01-02T00:00:00", "topic": "/close", "value": "0"}]
    )
    _write_jsonl(os.path.join(src, "a.json"), events)
    stream = read_json_dropbox(spark, src)
    counts = windowed_key_counts(stream, "1 minute", "1 minute")
    name = f"hh_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    top = topk_batch(
        spark.sql(f"SELECT * FROM {name}"), k=2
    ).collect()
    first = [
        (r["topic"], r["n"], r["rank"])
        for r in top
        if str(r["bucket"]).startswith("2024-01-01 00:00")
    ]
    assert sorted(first) == [("/hot", 5, 1), ("/warm", 3, 2)]


def test_streaming_apdex_scores_window(spark, workdir):
    from fossil_spark.streaming.apdex import streaming_apdex

    src = os.path.join(workdir, "incoming")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "a.json"), [
        {"time": "2024-01-01T00:05:00", "topic": "/svc", "value": "50"},
        {"time": "2024-01-01T00:10:00", "topic": "/svc", "value": "100"},
        {"time": "2024-01-01T00:20:00", "topic": "/svc", "value": "250"},
        {"time": "2024-01-01T00:30:00", "topic": "/svc", "value": "900"},
        # closer far in the future so the first window finalizes
        {"time": "2024-01-02T00:00:00", "topic": "/close", "value": "1"},
    ])
    stream = read_json_dropbox(spark, src).withColumn(
        "value", F.col("value").cast("double")
    )
    scored = streaming_apdex(stream, threshold=100.0, every="1 hour",
                             watermark="1 minute")
    name = f"apdex_{uuid.uuid4().hex[:8]}"
    q = (
        scored.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r["bucket"]), r["topic"]): r
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    r = rows[("2024-01-01 00:00:00", "/svc")]
    # 50, 100 satisfied; 250 tolerating (<=400); 900 frustrated
    assert (r["n"], r["n_satisfied"], r["n_tolerating"], r["n_frustrated"]) \
        == (4, 2, 1, 1)
    assert r["apdex"] == (2 + 1 / 2) / 4
    # identical arithmetic to the batch operator (lambda-parity check)
    from fossil_spark.operators import timeseries as ts

    batch = spark.createDataFrame(
        [(i, __import__("datetime").datetime(2024, 1, 1, 0, 5 * (i + 1)),
          "/svc", v)
         for i, v in enumerate([50.0, 100.0, 250.0, 900.0])],
        "event_id long, ts timestamp, event_type string, value double",
    )
    b = ts.apdex(batch, 100.0, "1 hour", "ts", ["event_type"], "value").collect()[0]
    assert b["apdex"] == r["apdex"]
