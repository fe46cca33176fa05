"""EventStore reads only the date partitions a query's time window covers.

The store here has more than 32 daily partitions: past that count Spark
lists a full-root read with a distributed job, so a bounded query that
still fires none shows the driver-side listing in `_read_pruned` is in
use. Results are checked against FQL over a full-root read.
"""

import contextlib
import io
import os
import re
import shutil
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from fossil_spark import maintenance
from fossil_spark.fql import compile_query, parse
from fossil_spark.store import (
    FIXED_NOW, STORE_COLUMNS, EventStore, events_store_view, list_partitions,
)

NOW = datetime(2024, 2, 10, tzinfo=timezone.utc)
DAYS = 40  # 2024-01-01 .. 2024-02-09
STRAY = "date=not-a-date"

BOUNDED = (
    "all since ~(2024-02-05T06:00:00Z)",
    "all in /a since ~(2024-02-05T06:00:00Z)",
    "all before ~(2024-01-03T12:00:00Z)",
    "all between ~(2024-01-10T00:00:00Z), ~(2024-01-12T23:59:59Z)",
    "all in /a/x between ~(2024-01-10T00:00:00Z), ~(2024-01-20T00:00:00Z)",
    # wider than 32 partitions: Spark lists these paths itself
    "all between ~(2024-01-02T00:00:00Z), ~(2024-02-08T00:00:00Z)",
    # covers no partition: zero paths read
    "all between ~(2023-06-01T00:00:00Z), ~(2023-06-02T00:00:00Z)",
)


def _rows(df):
    return sorted((tuple(r) for r in df.select(*STORE_COLUMNS).collect()), key=repr)


def _days_rows(first: int, n: int, tag: str = ""):
    start = datetime(2024, 1, 1)
    return [
        (start + timedelta(days=d, hours=h), topic, f"{d}.{h}{tag}")
        for d in range(first, first + n)
        for h in (0, 11, 23)
        for topic in ("/a/x", "/a/y", "/b")
    ]


@pytest.fixture()
def workdir():
    d = os.path.join("build", f"pruning_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def store(spark):
    root = os.path.join("build", f"pruning_{uuid.uuid4().hex[:8]}")
    st = EventStore(spark, root)
    st.append_rows(_days_rows(0, DAYS) + [(None, "/a/x", "null-time")])
    # a directory under date= whose name is no date: bounded queries skip
    # it; it holds a copy of an in-window partition so including it shows
    src = os.path.join(root, "date=2024-02-06")
    os.makedirs(os.path.join(root, STRAY))
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), os.path.join(root, STRAY, f))
    yield st
    shutil.rmtree(root, ignore_errors=True)


def _full_root(spark, root, query, include_stray=False, now=NOW):
    df = spark.read.parquet(root)
    if not include_stray:
        df = df.filter(~F.col("_metadata.file_path").contains(f"/{STRAY}/"))
    return compile_query(parse(query), df.select(*STORE_COLUMNS), now=now)


class _JobGroup:
    """Jobs started inside a `with` block, read back via statusTracker()."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"pruning-{uuid.uuid4().hex[:8]}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def descriptions(self) -> list[str]:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for job in sorted(self.sc.statusTracker().getJobIdsForGroup(self.group)):
            desc = store.job(job).description()
            out.append(desc.get() if desc.isDefined() else "")
        return out


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def test_store_has_more_than_32_partitions(store):
    days = [d for _, d in list_partitions(store.root)]
    assert sum(d is not None for d in days) == DAYS > 32
    assert days.count(None) == 2  # null-time partition and the stray


def test_bounded_query_fires_no_listing_or_schema_job(spark, store):
    # control: a full-root read of >32 partitions lists them with a job
    with _JobGroup(spark) as full:
        store.read()
    assert any(d.startswith("Listing leaf files") for d in full.descriptions())

    text = "all in /a between ~(2024-01-10T00:00:00Z), ~(2024-01-20T00:00:00Z)"
    # listing and schema inference would both run while the DataFrame
    # is built, so building it must start no job at all
    with _JobGroup(spark) as build:
        df = store.query(text, now=NOW)
    assert build.descriptions() == []
    with _JobGroup(spark) as run:
        assert df.count() > 0
    assert run.descriptions()
    assert not any(d.startswith("Listing leaf files") for d in run.descriptions())


@pytest.mark.parametrize("text", BOUNDED)
def test_bounded_rows_equal_full_root_read(spark, store, text):
    got = _rows(store.query(text, now=NOW))
    assert got == _rows(_full_root(spark, store.root, text, include_stray=False))
    assert all(t is not None for t, _, _ in got)


def test_empty_window_reads_nothing(store):
    text = "all between ~(2023-06-01T00:00:00Z), ~(2023-06-02T00:00:00Z)"
    plan = _plan_of(store.query(text, now=NOW))
    assert "InMemoryFileIndex(0 paths)" in plan, plan


def test_unbounded_reads_whole_root(spark, store):
    got = _rows(store.query("all", now=NOW))
    assert got == _rows(_full_root(spark, store.root, "all", include_stray=True))
    assert (None, "/a/x", "null-time") in got


def test_store_time_predicate_prunes_partitions(spark, workdir, sf_dir):
    # the driver's events, appended with their double `value`: append()
    # casts it to the string STORE_SCHEMA reads bounded queries with
    st = EventStore(spark, os.path.join(workdir, "events"))
    st.append(events_store_view(spark, sf_dir))
    assert dict(st.read().dtypes)["value"] == "string"

    # a time predicate must reach the scan as a partition filter on
    # `date`, not just a row filter on `time`
    def partition_filters(df):
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", _plan_of(df))
        assert m is not None, "no PartitionFilters in scan"
        return m.group(1)

    for text in (
        "all since ~(2024-01-15T00:00:00Z)",
        "all before ~(2024-01-10T00:00:00Z)",
        "all between ~(2024-01-10T00:00:00Z), ~(2024-01-20T00:00:00Z)",
    ):
        q = st.query(text, now=FIXED_NOW)
        pf = partition_filters(q)
        assert "date" in pf, f"{text!r}: date not in partition filters: {pf!r}"
        # pruning changes which files are read, not the answer
        assert _rows(q) == _rows(_full_root(spark, st.root, text, now=FIXED_NOW))

    # an unbounded query has no partition filter (and must not error)
    assert "date" not in partition_filters(st.query("all", now=FIXED_NOW))

    # topic-prefix selection pushes into the parquet scan as a
    # StringStartsWith filter (row-group dictionary/stats skip)
    topic_plan = _plan_of(st.query("all in /events/click since ~(2024-01-15T00:00:00Z)",
                                   now=FIXED_NOW))
    assert "StartsWith(topic,/events/click)" in topic_plan.replace("'", ""), \
        "topic prefix not pushed to scan"

    since = st.query("all since ~(2024-01-15T00:00:00Z)", now=FIXED_NOW)
    unpruned = st.read().filter(
        (F.col("time") >= F.lit("2024-01-15").cast("timestamp"))
        & (F.col("time") <= F.lit(FIXED_NOW.replace(tzinfo=None)))
    )
    assert since.count() == unpruned.count() > 0
    assert since.count() < st.read().count()


def test_appended_and_compacted_partitions_seen_next_query(spark, workdir):
    st = EventStore(spark, os.path.join(workdir, "store"))
    text = "all since ~(2024-01-01T00:00:00Z)"
    st.append_rows(_days_rows(0, 2))
    assert len(_rows(st.query(text, now=NOW))) == 2 * 9

    # a new date partition shows on the very next query
    st.append_rows(_days_rows(4, 1))
    assert len(_rows(st.query(text, now=NOW))) == 3 * 9

    # a partition rewritten by compaction (directory swapped) too
    st.append_rows(_days_rows(4, 1, tag="b"))
    assert "date=2024-01-05" in maintenance.compact(spark, st.root, target_file_bytes=1 << 30)
    expected = sorted(_days_rows(0, 2) + _days_rows(4, 1) + _days_rows(4, 1, tag="b"), key=repr)
    assert _rows(st.query(text, now=NOW)) == expected


def test_registry_cache_sees_other_writers(spark, workdir):
    root = os.path.join(workdir, "store")
    a, b = EventStore(spark, root), EventStore(spark, root)
    assert a.schema_for_topic("/t").text == "string"
    b.set_schema("/t", "int32")
    assert a.schema_for_topic("/t").text == "int32"
    a.set_schema("/u", "float64")
    assert dict(b._load_registry().items()) == {"/t": "int32", "/u": "float64"}
