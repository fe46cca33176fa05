"""The one null-time rule of the time-series and analytics queries
(DuckDB's defaults): a null time sorts last in every ordered window and
falls in a null bucket of its own. The builders `timeseries.time_bucket` and
`timeseries.ordered` carry it; an sf0.001 copy with every 1000th
`events.ts` null runs one key per former failure class against its
DuckDB oracle."""

import importlib.util
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from fossil_spark.operators.timeseries import asof_join, ordered, time_bucket

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _checker():
    path = os.path.join(REPO, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


check = _checker()


@pytest.fixture(scope="session")
def null_ts_dir(tmp_path_factory, sf_dir):
    """sf0.001 with `ts` null on every 1000th event; the other tables
    are symlinks to the originals."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("null_ts")
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    hole = pa.array([i % 1000 == 0 for i in range(ev.num_rows)])
    i = ev.schema.get_field_index("ts")
    ts = ev.column(i)
    ev = ev.set_column(i, ev.schema.field(i),
                       pc.if_else(hole, pa.nulls(ev.num_rows, ts.type), ts))
    pq.write_table(ev, str(out / "events.parquet"))
    for t in check.TABLES:
        if t != "events":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"),
                       out / f"{t}.parquet")
    return str(out)


# one key per failure class seen before the rule: bucket count
# (resample, ohlc, seasonal_mk), window order (sliding, session) and
# a NaT cell on both sides (rolling_median)
@pytest.mark.parametrize("key", [
    "ts_resample", "ts_ohlc", "ts_seasonal_mk", "ts_sliding", "ts_session",
    "ts_rolling_median",
])
def test_null_time_matches_oracle(spark, null_ts_dir, key):
    con = check.oracle_connection(null_ts_dir)
    got = check.normalize(entry.queries()[key](spark, null_ts_dir).toPandas())
    want = check.normalize(con.execute(entry.oracle_sql()[key]).df())
    ok, why = check.frames_equal(got, want)
    assert ok, f"{key}: {why}"


def test_values_equal_null_times():
    import pandas as pd

    t = pd.Timestamp("2024-01-01 01:00:00")
    assert check.values_equal(pd.NaT, pd.NaT)
    assert check.values_equal(pd.NaT, None)
    assert not check.values_equal(pd.NaT, t)
    assert not check.values_equal(t, pd.NaT)
    assert not check.values_equal(None, 3)
    assert not check.values_equal(None, 3.0)
    ok, why = check.frames_equal(pd.DataFrame({"ts": [t, pd.NaT]}),
                                 pd.DataFrame({"ts": [t, t]}))
    assert not ok and "row 1" in why


INTERVALS = ["15 minutes", "1 hour", "2 hours", "6 hours", "1 day",
             "1 week"]


@pytest.mark.parametrize("every", INTERVALS)
def test_bucket_equals_window_start(spark, every):
    times = [
        "1969-12-25 13:07:00", "1969-12-31 23:59:59.999999",
        "1970-01-01 00:00:00", "1970-01-01 00:14:59.999999",
        "2024-01-01 00:00:00", "2024-01-01 05:15:00",
        "2024-01-04 00:00:00", "2024-01-07 23:59:59",
    ]
    df = spark.createDataFrame([(t,) for t in times], "t string") \
        .select(F.to_timestamp("t").alias("t"))
    rows = df.select(
        time_bucket("t", every).alias("b"),
        F.window("t", every).start.alias("w"),
    ).collect()
    assert len(rows) == len(times)
    assert [r.b for r in rows] == [r.w for r in rows]


def test_bucket_keeps_a_null_time_as_its_own_group(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 5),), (None,), (datetime(2024, 1, 1, 0, 50),)],
        "t timestamp",
    )
    got = {r.b: r.n for r in df.groupBy(time_bucket("t", "1 hour").alias("b"))
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {datetime(2024, 1, 1): 2, None: 1}


def _ranks(df):
    return sorted((r.k, r.i, r.v) for r in df.collect())


def test_ordered_puts_null_last(spark):
    df = spark.createDataFrame(
        [("a", 2), ("a", None), ("a", 1), ("b", None), ("b", 3)],
        "k string, v int",
    )
    asc = df.select("k", "v", F.row_number().over(ordered("k", "v")).alias("i"))
    desc = df.select("k", "v", F.row_number().over(
        ordered(["k"], F.col("v").desc_nulls_last())).alias("i"))
    assert _ranks(asc) == [("a", 1, 1), ("a", 2, 2), ("a", 3, None),
                        ("b", 1, 3), ("b", 2, None)]
    assert _ranks(desc) == [("a", 1, 2), ("a", 2, 1), ("a", 3, None),
                         ("b", 1, 3), ("b", 2, None)]


def test_ordered_frames_and_refusals(spark):
    df = spark.range(5).select(F.col("id").alias("v"))
    run = df.select(F.sum("v").over(ordered([], "v", rows=(None, 0))).alias("s"))
    assert sorted(r.s for r in run.collect()) == [0, 1, 3, 6, 10]
    back = df.select(
        F.sum("v").over(ordered([], "v", range=(-1, None))).alias("s"))
    assert sorted(r.s for r in back.collect()) == [7, 9, 10, 10, 10]
    with pytest.raises(ValueError, match="nulls sort last"):
        ordered([], F.col("v").asc_nulls_first())


def test_asof_join_null_left_time_matches_nothing(spark):
    # the null left time sorts after the right row but is not >= it
    left = spark.createDataFrame(
        [(1, "a", datetime(2024, 1, 2)), (2, "a", None)],
        "id int, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 5.0)], "k string, rt timestamp, v double"
    )
    got = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    right_values=["v"])
    assert sorted((r.id, r.v) for r in got.collect()) == [(1, 5.0), (2, None)]
