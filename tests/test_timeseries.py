"""Time-series operators vs DuckDB."""

from datetime import datetime, timedelta

import duckdb
import pytest
from pyspark.sql import functions as F

from fossil_spark.operators import timeseries as ts
from fossil_spark.session import read_table

SF = "/root/testdata/sf0.001"


def ddb(sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,"
        f" event_type, value FROM read_parquet('{SF}/events.parquet')"
    )
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')"
    )
    return con.execute(sql).fetchall()


@pytest.fixture(scope="module")
def events(spark):
    return read_table(spark, SF, "events")


def test_resample(events):
    got = {
        (r["bucket"], r["event_type"]): (r["n"], r["avg_value"])
        for r in ts.resample(events, "1 hour", "ts", ["event_type"]).collect()
    }
    want = ddb(
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) b, event_type, count(*),"
        " CAST(round(sum(CAST(value AS DECIMAL(30,8))), 4) AS DOUBLE)/count(value)"
        " FROM events GROUP BY 1, 2"
    )
    assert len(got) == len(want)
    for b, et, n, avg in want:
        gn, gavg = got[(b, et)]
        assert gn == n and gavg == avg


def test_sliding_stats(events):
    out = ts.sliding_stats(events, 9, "ts", ["event_type"], "value", ["event_id"])
    got = {r["event_id"]: r["rolling_avg"] for r in out.collect()}
    want = ddb(
        "SELECT event_id, CAST(round(sum(CAST(value AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE)"
        " / count(value) OVER w FROM events"
        " WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id"
        " ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"
    )
    for eid, avg in want:
        assert got[eid] == avg


def test_asof_join(spark, events):
    orders = read_table(spark, SF, "orders")
    right = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice")
    )
    out = ts.asof_join(
        events.select("event_id", "ts", F.col("user_id").alias("o_custkey")),
        right,
        on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_values=["o_totalprice"],
    )
    got = {r["event_id"]: r["o_totalprice"] for r in out.collect()}
    want = ddb(
        "SELECT e.event_id, r.o_totalprice FROM events e ASOF LEFT JOIN ("
        "  SELECT o_custkey, o_orderdate, arg_max(o_totalprice, o_orderkey) AS o_totalprice"
        "  FROM orders GROUP BY 1, 2) r"
        " ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate"
    )
    assert len(got) == len(want)
    for eid, price in want:
        assert got[eid] == price


def test_sessionize(events):
    out = ts.sessionize(events, timedelta(minutes=30), "ts", ["user_id"], ["event_id"])
    got = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in out.collect()
    }
    want = ddb(
        "WITH flagged AS (SELECT user_id, ts, CASE WHEN epoch_us(ts)"
        " - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        " > 1800000000 THEN 1 ELSE 0 END AS new_s FROM events),"
        " ids AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id"
        " ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flagged)"
        " SELECT user_id, min(ts), max(ts), count(*) FROM ids GROUP BY user_id, sid"
    )
    assert len(got) == len(want)
    for uid, start, end, n in want:
        assert got[(uid, start)] == (end, n)


def test_gapfill_locf(events):
    out = ts.gapfill_locf(events, "1 hour", "ts", ["event_type"], "value")
    rows = out.collect()
    # dense: per event_type, buckets are contiguous hourly
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["bucket"])
        for a, b in zip(rs, rs[1:]):
            assert (b["bucket"] - a["bucket"]) == timedelta(hours=1)
        assert all(r["value"] is not None for r in rs)
    # observed buckets match plain resample
    n_observed = sum(1 for r in rows if r["observed"])
    (want,) = ddb(
        "SELECT count(*) FROM (SELECT DISTINCT time_bucket(INTERVAL 1 HOUR, ts),"
        " event_type FROM events)"
    )[0]
    assert n_observed == want


def test_topk(events):
    out = ts.topk(events, 3, ["event_type"], "value", tiebreak=["event_id"])
    got = {(r["event_type"], r["rank"]): r["event_id"] for r in out.collect()}
    want = ddb(
        "SELECT event_type, rn, event_id FROM (SELECT *, row_number() OVER"
        " (PARTITION BY event_type ORDER BY value DESC, event_id) rn FROM events)"
        " WHERE rn <= 3"
    )
    assert len(got) == len(want)
    for et, rn, eid in want:
        assert got[(et, rn)] == eid


def test_first_last_by_bucket(events):
    out = ts.first_last_by_bucket(events, "1 hour", "ts", ["event_type"], "value",
                                  tiebreak=["event_id"])
    got = {
        (r["bucket"], r["event_type"]): (r["first_value"], r["last_value"])
        for r in out.collect()
    }
    want = ddb(
        "SELECT b, event_type, max(CASE WHEN rn_a = 1 THEN value END),"
        " max(CASE WHEN rn_d = 1 THEN value END) FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY b, event_type ORDER BY ts, event_id) rn_a,"
        "  row_number() OVER (PARTITION BY b, event_type ORDER BY ts DESC, event_id DESC) rn_d"
        "  FROM (SELECT *, time_bucket(INTERVAL 1 HOUR, ts) b FROM events))"
        " GROUP BY 1, 2"
    )
    assert len(got) == len(want)
    for b, et, first, last in want:
        assert got[(b, et)] == (first, last)


def test_rate(events):
    out = ts.rate(events, "ts", ["event_type"], "value", ["event_id"])
    got = {r["event_id"]: r["rate_per_sec"] for r in out.collect()}
    want = ddb(
        "SELECT event_id, (value - lag(value) OVER w) /"
        " ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6) FROM events"
        " WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)"
    )
    for eid, r in want:
        if r is None:
            assert got[eid] is None
        else:
            assert got[eid] == r


def test_range_join(spark, events):
    # intervals: hours where error events spiked (n >= 3)
    intervals = (
        events.filter("event_type = 'error'")
        .groupBy(F.window("ts", "1 hour").start.alias("lo"))
        .agg(F.count("*").alias("n_errors"))
        .filter("n_errors >= 3")
        .select("lo", (F.col("lo") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
                "n_errors")
    )
    out = ts.range_join(
        events.select("event_id", "ts"), intervals, point_time="ts"
    )
    got = {(r["event_id"], r["lo"]) for r in out.collect()}
    want = ddb(
        "WITH iv AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) lo,"
        " time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR hi, count(*) n"
        " FROM events WHERE event_type = 'error' GROUP BY 1 HAVING count(*) >= 3)"
        " SELECT e.event_id, iv.lo FROM events e JOIN iv"
        " ON e.ts >= iv.lo AND e.ts < iv.hi"
    )
    assert got == {(eid, lo) for eid, lo in want}
    assert len(got) > 0


def test_range_join_multi_bucket_intervals(spark):
    # interval spanning 3 buckets catches points in every bucket
    from datetime import datetime

    points = spark.createDataFrame(
        [(i, datetime(2024, 1, 1, h, 30)) for i, h in enumerate([0, 1, 2, 3])],
        "pid long, time timestamp",
    )
    intervals = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 45), datetime(2024, 1, 1, 3, 0), "w1")],
        "lo timestamp, hi timestamp, name string",
    )
    out = ts.range_join(points, intervals)
    assert sorted(r["pid"] for r in out.collect()) == [1, 2]


def test_range_join_left_one_null_row_per_unmatched_point(spark):
    # a point whose bucket overlaps N intervals but sits inside NONE
    # must yield exactly one all-null row, not N duplicates
    from datetime import datetime

    points = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 30)), (2, datetime(2024, 1, 1, 0, 50))],
        "pid long, time timestamp",
    )
    # two intervals in point 1's bucket, both missing it; point 2 is inside one
    intervals = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 10), "a"),
            (datetime(2024, 1, 1, 0, 15), datetime(2024, 1, 1, 0, 20), "b"),
            (datetime(2024, 1, 1, 0, 45), datetime(2024, 1, 1, 0, 55), "c"),
        ],
        "lo timestamp, hi timestamp, name string",
    )
    out = ts.range_join(points, intervals, how="left").collect()
    by_pid = {}
    for r in out:
        by_pid.setdefault(r["pid"], []).append(r["name"])
    assert by_pid[1] == [None]
    assert by_pid[2] == ["c"]
    # inner join is unaffected
    inner = ts.range_join(points, intervals).collect()
    assert [(r["pid"], r["name"]) for r in inner] == [(2, "c")]


def test_range_join_left_duplicate_points_survive(spark):
    # identical point rows must each produce their own output row (the
    # old anti-join-on-all-columns path collapsed duplicates); float and
    # map columns must not break the join (no full-width equality key)
    from datetime import datetime

    points = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), float("nan"), {"a": 1}),
            (1, datetime(2024, 1, 1, 0, 30), float("nan"), {"a": 1}),
            (2, datetime(2024, 1, 1, 0, 5), 1.5, {"b": 2}),
        ],
        "pid long, time timestamp, x double, m map<string,int>",
    )
    intervals = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 10), "a")],
        "lo timestamp, hi timestamp, name string",
    )
    out = ts.range_join(points, intervals, how="left").collect()
    assert len(out) == 3
    names = sorted((r["pid"], r["name"]) for r in out)
    assert names == [(1, None), (1, None), (2, "a")]


def test_ohlc(events):
    out = ts.ohlc(events, "1 hour", "ts", ["event_type"], "value", ["event_id"])
    got = {(r["bucket"], r["event_type"]): (r["open"], r["high"], r["low"], r["close"])
           for r in out.collect()}
    want = ddb(
        "SELECT b, event_type, max(CASE WHEN rn_a = 1 THEN value END),"
        " max(value), min(value), max(CASE WHEN rn_d = 1 THEN value END) FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY b, event_type ORDER BY ts, event_id) rn_a,"
        "  row_number() OVER (PARTITION BY b, event_type ORDER BY ts DESC, event_id DESC) rn_d"
        "  FROM (SELECT *, time_bucket(INTERVAL 1 HOUR, ts) b FROM events))"
        " GROUP BY 1, 2"
    )
    assert len(got) == len(want)
    for b, et, o, h, l, c in want:
        assert got[(b, et)] == (o, h, l, c)


def test_ewma_matches_pandas(events):
    out = ts.ewma(events, 0.3, "ts", ["event_type"], "value", ["event_id"])
    got = {r["event_id"]: r["ewma"] for r in out.collect()}
    pdf = events.toPandas().sort_values(["event_type", "ts", "event_id"])
    for et, grp in pdf.groupby("event_type"):
        want = grp["value"].ewm(alpha=0.3, adjust=False).mean()
        for eid, w in zip(grp["event_id"], want):
            assert abs(got[eid] - w) < 1e-12


def test_greedy_sample_semantics(spark):
    # golden case: reference semantics keep t0, then next >= t0+Δ
    base = datetime(2024, 1, 1)
    rows = [(base + timedelta(seconds=s), "/t", float(s)) for s in [0, 30, 61, 90, 125, 200]]
    df = spark.createDataFrame(rows, "time timestamp, topic string, value double")
    out = sorted(
        r["value"] for r in ts.greedy_sample(df, timedelta(minutes=1)).collect()
    )
    # keep 0 (next>=60) -> 61 (next>=121) -> 125 (next>=185) -> 200
    assert out == [0.0, 61.0, 125.0, 200.0]


def test_gapfill_linear(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0), "/t", 10.0),
            (datetime(2024, 1, 1, 3), "/t", 40.0),  # 2 missing hours between
            (datetime(2024, 1, 1, 5), "/t", 20.0),
        ],
        "time timestamp, topic string, value double",
    )
    out = {str(r["bucket"]): (r["observed"], r["value"]) for r in
           ts.gapfill_linear(df, "1 hour", "time", ["topic"]).collect()}
    assert out["2024-01-01 00:00:00"] == (True, 10.0)
    assert out["2024-01-01 01:00:00"] == (False, 20.0)
    assert out["2024-01-01 02:00:00"] == (False, 30.0)
    assert out["2024-01-01 03:00:00"] == (True, 40.0)
    assert out["2024-01-01 04:00:00"] == (False, 30.0)
    assert out["2024-01-01 05:00:00"] == (True, 20.0)


def test_sliding_time_stats(events):
    from datetime import timedelta

    out = ts.sliding_time_stats(
        events, timedelta(minutes=30), "ts", ["event_type"], "value"
    )
    got = {r["event_id"]: (r["window_avg"], r["window_n"]) for r in out.collect()}
    want = ddb(
        "SELECT event_id, CAST(round(sum(CAST(value AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE)"
        " / count(value) OVER w, CAST(count(value) OVER w AS BIGINT) FROM events"
        " WINDOW w AS (PARTITION BY event_type ORDER BY ts"
        " RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW)"
    )
    for eid, avg, n in want:
        assert got[eid] == (avg, n)


def test_sliding_time_irregular_sampling(spark):
    """RANGE frame semantics: points outside the lookback drop out even
    when row distance is constant."""
    from datetime import datetime, timedelta

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 10.0),
        (2, datetime(2024, 1, 1, 0, 10), 20.0),   # within 30min of #1
        (3, datetime(2024, 1, 1, 2, 0), 40.0),    # 30min window: alone
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = {r["event_id"]: (r["window_n"], r["window_avg"])
           for r in ts.sliding_time_stats(df, timedelta(minutes=30), "ts").collect()}
    assert out[1] == (1, 10.0)
    assert out[2] == (2, 15.0)
    assert out[3] == (1, 40.0)


def test_zscore(events):
    from datetime import timedelta

    out = ts.zscore(events, timedelta(hours=2), "ts", ["event_type"], "value")
    rows = out.collect()
    assert len(rows) == events.count()
    scored = [r for r in rows if r["zscore"] is not None]
    assert scored  # the 2h window accumulates >= 2 points quickly
    # the anomaly signal is standardized: overwhelmingly within +-5
    assert all(abs(r["zscore"]) < 50 for r in scored)


def test_zscore_flat_series_is_null(spark):
    """Zero variance -> null score, not a division blowup."""
    from datetime import datetime, timedelta

    rows = [(i, datetime(2024, 1, 1, 0, i), 7.0) for i in range(5)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = ts.zscore(df, timedelta(hours=1), "ts").collect()
    assert all(r["zscore"] is None for r in out)


def test_value_histogram(events):
    out = ts.value_histogram(events, 20, 0.0, 500.0, ["event_type"], "value")
    got = {(r["event_type"], r["bin"]): r["n"] for r in out.collect()}
    want = ddb(
        "SELECT event_type, CAST(CASE WHEN value < 0.0 THEN -1"
        " WHEN value >= 500.0 THEN 20"
        " ELSE least(floor(value / 25.0), 19) END AS BIGINT), count(*)"
        " FROM events GROUP BY 1, 2"
    )
    for et, b, n in want:
        assert got[(et, b)] == n
    assert sum(got.values()) == events.count()


def test_value_histogram_edges(spark):
    from datetime import datetime

    rows = [(i, datetime(2024, 1, 1), v) for i, v in
            enumerate([-5.0, 0.0, 24.999, 25.0, 499.99, 500.0, 700.0])]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = {r["bin"]: r["n"] for r in
           ts.value_histogram(df, 20, 0.0, 500.0, value_col="value").collect()}
    assert out[-1] == 1       # below range
    assert out[0] == 2        # 0.0 and 24.999
    assert out[1] == 1        # 25.0
    assert out[19] == 1       # 499.99
    assert out[20] == 2       # hi edge and beyond


def test_downsample_m4_invariants(events):
    out = ts.downsample_m4(events, "1 hour", "ts", ["event_type"], "value",
                           ["event_id"]).collect()
    assert out
    for r in out:
        assert r["v_min"] <= r["v_max"]
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]
    # bucket count matches resample's (same bucketing)
    assert len(out) == ts.resample(events, "1 hour", "ts", ["event_type"]).count()


def test_funnel_ordering_semantics(spark):
    """Step k counts only when strictly after the earliest step k-1."""
    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # user 2: clicks BEFORE viewing -> stops at view
        (2, t(1), "view"), (2, t(0), "click"),
        # user 3: view only
        (3, t(0), "view"),
        # user 4: purchase without view -> counts nowhere
        (4, t(0), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["step"]: r["n_converted"] for r in
           ts.funnel(df, ["view", "click", "purchase"], "ts").collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_single_shuffle(events):
    out = ts.funnel(events, ["view", "click", "purchase"], "ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # chained windows + the per-key agg share the user_id exchange; the
    # final 1-row agg adds a singleton exchange
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1


def test_retention_cohort_semantics(spark):
    from datetime import datetime

    rows = [
        # user 1: first seen week 0, active weeks 0 and 1
        (1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 9)),
        # user 2: first seen week 0 only
        (2, datetime(2024, 1, 2)),
        # user 3: first seen week 1, active weeks 1 and 2
        (3, datetime(2024, 1, 9)), (3, datetime(2024, 1, 16)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r["cohort"]), r["period_offset"]): r["n_active"]
           for r in ts.retention(df, "1 week", "ts").collect()}
    # epoch-aligned weeks start on THURSDAYS (1970-01-01 was one):
    # Jan 1/2 fall in the 2023-12-28 week, Jan 9 in 2024-01-04,
    # Jan 16 in 2024-01-11
    offsets = {(c.split(" ")[0], o): n for (c, o), n in got.items()}
    assert offsets[("2023-12-28", 0)] == 2   # users 1 and 2
    assert offsets[("2023-12-28", 1)] == 1   # user 1 returns
    assert offsets[("2024-01-04", 0)] == 1   # user 3's cohort
    assert offsets[("2024-01-04", 1)] == 1   # user 3 returns


def test_acf_alternating_and_ramp(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = []
    # key "alt": +1/-1 alternation -> acf_1 == -1, acf_2 == +1
    for i in range(40):
        rows.append(("alt", i, base + timedelta(minutes=i), float((-1) ** i)))
    # key "ramp": linear -> all lags perfectly correlated
    for i in range(40):
        rows.append(("ramp", i, base + timedelta(minutes=i), float(i)))
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = {
        r["event_type"]: r
        for r in ts.acf(
            df, lags=2, time_col="ts", by=["event_type"],
            order_tiebreak=["event_id"],
        ).collect()
    }
    assert out["alt"]["acf_1"] == pytest.approx(-1.0)
    assert out["alt"]["acf_2"] == pytest.approx(1.0)
    assert out["ramp"]["acf_1"] == pytest.approx(1.0)
    assert out["ramp"]["acf_2"] == pytest.approx(1.0)


def test_changepoint_cusum_finds_planted_shift(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    rows = []
    # level shift at i=60: mean 0 -> mean 10 (no noise: CUSUM peak is
    # exactly at the last pre-shift point)
    for i in range(100):
        rows.append(("k", i, base + timedelta(minutes=i), 0.0 if i < 60 else 10.0))
    # constant key: std = 0, must be dropped, not divide-by-zero
    for i in range(50):
        rows.append(("const", 1000 + i, base + timedelta(minutes=i), 5.0))
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = {
        r["event_type"]: r
        for r in ts.changepoint_cusum(
            df, time_col="ts", by=["event_type"], order_tiebreak=["event_id"]
        ).collect()
    }
    assert "const" not in out
    assert out["k"]["cp_time"] == base + timedelta(minutes=59)
    assert out["k"]["cp_score"] > 10  # strong shift evidence


def test_seasonal_profile_planted_cycle(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 5, 1)
    rows = []
    # value = 100 at hour 12, 10 elsewhere, over 4 days
    for d in range(4):
        for hr in (6, 12, 18):
            rows.append(
                ("k", base + timedelta(days=d, hours=hr),
                 100.0 if hr == 12 else 10.0)
            )
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        r["hour"]: r
        for r in ts.seasonal_profile(df, time_col="ts", by=["event_type"]).collect()
    }
    assert out[12]["hour_mean"] == pytest.approx(100.0)
    assert out[6]["hour_mean"] == pytest.approx(10.0)
    assert out[12]["overall_mean"] == pytest.approx(40.0)
    assert out[12]["seasonal_index"] == pytest.approx(2.5)
    assert out[18]["seasonal_index"] == pytest.approx(0.25)
    assert out[12]["n"] == 4


def test_holt_forecast_linear_series_exact(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 6, 1)
    rows = []
    for i in range(30):
        rows.append(("a", i, base + timedelta(hours=i), 2.0 * i + 3.0))
        rows.append(("b", i, base + timedelta(hours=i), 50.0 - i))
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = ts.holt_forecast(
        df, horizon=3, time_col="ts", by=["event_type"],
        order_tiebreak=["event_id"],
    ).collect()
    got = {(r["event_type"], r["step"]): r["forecast"] for r in out}
    # linear series -> exact continuation
    for h in (1, 2, 3):
        assert got[("a", h)] == pytest.approx(2.0 * (29 + h) + 3.0)
        assert got[("b", h)] == pytest.approx(50.0 - (29 + h))
    assert len(out) == 6


def test_lttb_keeps_spike_and_endpoints(spark):
    import math
    from datetime import datetime, timedelta

    base = datetime(2024, 8, 1)
    rows = []
    for i in range(1000):
        v = math.sin(i / 25.0)
        if i == 500:
            v = 40.0  # the spike a mean-based downsampler would flatten
        rows.append(("k", i, base + timedelta(seconds=i), v))
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = ts.lttb(
        df, n_out=50, time_col="ts", by=["event_type"],
        order_tiebreak=["event_id"],
    ).collect()
    assert len(out) == 50
    ids = [r["event_id"] for r in out]
    assert ids[0] == 0 and ids[-1] == 999  # endpoints always kept
    assert 500 in ids                       # spike survives
    vals = {r["event_id"]: r["value"] for r in out}
    assert vals[500] == 40.0


def test_lttb_short_series_passthrough(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 8, 1)
    df = spark.createDataFrame(
        [("k", i, base + timedelta(seconds=i), float(i)) for i in range(5)],
        "event_type string, event_id long, ts timestamp, value double",
    )
    out = ts.lttb(df, n_out=50, time_col="ts", by=["event_type"]).collect()
    assert len(out) == 5


def test_interval_coverage_merges_overlaps(spark):
    from datetime import datetime

    # key 1: [0,10) [5,20) [30,40)  -> 2 islands, covered 30s
    # key 2: [0,10) [10,20)         -> touching is ONE island (half-open)
    t0 = datetime(2024, 1, 1)

    def at(sec):
        return datetime(2024, 1, 1, 0, sec // 60, sec % 60)

    rows = [
        (1, 1, at(0), 10.0), (2, 1, at(5), 15.0), (3, 1, at(30), 10.0),
        (4, 2, at(0), 10.0), (5, 2, at(10), 10.0),
    ]
    d = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r["user_id"]: r for r in ts.interval_coverage(
        d, time_col="ts", duration_col="value", by=["user_id"],
        order_tiebreak=["event_id"],
    ).collect()}
    assert out[1]["n_intervals"] == 3
    assert out[1]["n_islands"] == 2
    assert out[1]["covered_us"] == 30_000_000
    # start == previous end: no gap (contribution continues the island,
    # but s > pme is false, so they merge)
    assert out[2]["n_islands"] == 1
    assert out[2]["covered_us"] == 20_000_000


def test_interval_coverage_contained_interval_adds_nothing(spark):
    from datetime import datetime

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0, 0), 60.0),
        (2, 1, datetime(2024, 1, 1, 0, 0, 10), 5.0),  # fully inside
    ]
    d = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    [r] = ts.interval_coverage(
        d, time_col="ts", duration_col="value", by=["user_id"],
        order_tiebreak=["event_id"],
    ).collect()
    assert r["n_islands"] == 1
    assert r["covered_us"] == 60_000_000


def test_interval_coverage_single_shuffle(events):
    plan = (
        ts.interval_coverage(
            events, time_col="ts", duration_col="value", by=["user_id"],
            order_tiebreak=["event_id"],
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_overlap_join_semantics(spark):
    from datetime import datetime, timedelta

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m)

    left = spark.createDataFrame(
        [(1, 10, t(0), t(3)), (1, 11, t(5), t(6)), (2, 12, t(0), t(1))],
        "user_id long, l_id long, l_lo timestamp, l_hi timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 20, t(2), t(9)),   # overlaps 10 (1h) and 11 (1h)
            (1, 21, t(6), t(7)),   # touches 11 at 6:00 -> NO match (half-open)
            (2, 22, t(1), t(2)),   # touches 12 -> no match
            (3, 23, t(0), t(9)),   # different key -> no match
        ],
        "user_id long, r_id long, r_lo timestamp, r_hi timestamp",
    )
    out = ts.overlap_join(
        left, right, on=["user_id"],
        left_lo="l_lo", left_hi="l_hi", right_lo="r_lo", right_hi="r_hi",
        bucket=timedelta(hours=1),
    ).collect()
    got = {(r["l_id"], r["r_id"]): r["overlap_us"] for r in out}
    # pair (10,20) spans bucket hours 2 (and the intervals share several
    # buckets) but must appear exactly once
    assert got == {
        (10, 20): 3_600_000_000,
        (11, 20): 3_600_000_000,
    }


def test_overlap_join_rejects_colliding_columns(spark):
    from datetime import datetime, timedelta

    d = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 1, 2))],
        "user_id long, lo timestamp, hi timestamp",
    )
    with pytest.raises(ValueError, match="rename first"):
        ts.overlap_join(d, d, on=["user_id"], bucket=timedelta(hours=1))


def test_holt_winters_learns_planted_cycle(spark):
    from datetime import datetime, timedelta as td
    import math

    # pure period-4 cycle, no trend, 40 cycles: forecasts must repeat
    # the cycle shape (seasonal state converges geometrically)
    cycle = [10.0, 20.0, 5.0, 15.0]
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + td(hours=i), cycle[i % 4]) for i in range(160)
    ]
    d = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = sorted(
        ts.holt_winters_forecast(
            d, period=4, horizon=4, time_col="ts",
            order_tiebreak=["event_id"],
        ).collect(),
        key=lambda r: r["step"],
    )
    # last observed index is 159 (cycle pos 3); step h predicts pos (159+h)%4
    for r in out:
        want = cycle[(159 + r["step"]) % 4]
        assert r["forecast"] == pytest.approx(want, abs=0.7), (
            r["step"], r["forecast"], want,
        )
    # trend stays near zero on a trendless series
    assert abs(out[0]["trend"]) < 0.2


def test_decompose_classical_recovers_trend_and_cycle(spark):
    from datetime import datetime, timedelta as td

    # y = 0.5*t + cycle[t % 5]: a centered 5-row MA of the linear part
    # is exact, and the window spans exactly one cycle, so detrended =
    # cycle - mean(cycle) and residual = 0 (up to the decimal 1e-4 step)
    cycle = [4.0, 8.0, 1.0, 6.0, 2.0]
    cbar = sum(cycle) / 5
    base = datetime(2024, 1, 1)
    rows = [(i, base + td(hours=i), 0.5 * i + cycle[i % 5]) for i in range(60)]
    d = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = {r["event_id"]: r for r in ts.decompose_classical(
        d, period=5, time_col="ts", order_tiebreak=["event_id"],
    ).collect()}
    assert out[0]["trend"] is None and out[59]["trend"] is None  # edges
    for i in range(2, 58):
        assert out[i]["trend"] == pytest.approx(0.5 * i + cbar, abs=1e-3)
        assert out[i]["seasonal"] == pytest.approx(cycle[i % 5] - cbar, abs=1e-2)
        assert out[i]["residual"] == pytest.approx(0.0, abs=1e-2)


def test_decompose_rejects_even_period(spark):
    d = spark.createDataFrame([(1, None, 1.0)], "event_id long, ts timestamp, value double")
    with pytest.raises(ValueError, match="odd"):
        ts.decompose_classical(d, period=24, time_col="ts")


def test_cross_correlation_planted_lead(spark):
    from datetime import datetime, timedelta as td

    # series B is series A shifted 2 buckets later: xcorr peaks at lag 2
    import math

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(100):
        va = math.sin(i / 3.0) * 10
        rows.append((2 * i, base + td(hours=i), "a", va))
        # b at bucket i equals a's value from bucket i-2
        vb = math.sin((i - 2) / 3.0) * 10
        rows.append((2 * i + 1, base + td(hours=i), "b", vb))
    d = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    [r] = ts.cross_correlation(
        d, "a", "b", lags=3, every="1 hour", time_col="ts",
    ).collect()
    # corr(a_t, b_{t-2}) = corr(a_t, a_t) = 1
    assert r["xcorr_2"] == pytest.approx(1.0, abs=1e-3)
    assert r["xcorr_0"] < 0.9 and r["xcorr_1"] < 0.95


def test_counter_rate_reset_semantics(spark):
    from datetime import datetime, timedelta as td

    base = datetime(2024, 1, 1)
    # counter: 10, 25, 3 (reset), 8 — each 10 s apart
    rows = [(i, base + td(seconds=10 * i), v)
            for i, v in enumerate([10.0, 25.0, 3.0, 8.0])]
    d = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = {r["event_id"]: r for r in ts.counter_rate(
        d, time_col="ts", order_tiebreak=["event_id"],
    ).collect()}
    assert out[0]["increase"] is None
    assert out[1]["increase"] == 15.0 and out[1]["rate_per_sec"] == 1.5
    # reset: increase = post-reset value, not -22
    assert out[2]["increase"] == 3.0 and out[2]["rate_per_sec"] == pytest.approx(0.3)
    assert out[3]["increase"] == 5.0


def test_user_features_session_and_counts(spark, tmp_path):
    from datetime import datetime, timedelta as td

    from fossil_spark.queries.analytics import user_features

    base = datetime(2024, 1, 1)
    rows = [
        # user 1: 3 events in one session, then a 2-hour gap -> 2 sessions,
        # spanning two days? no — same day; 1 purchase of 50
        (1, base, 1, "view", 10.0, "{}"),
        (2, base + td(minutes=5), 1, "click", 20.0, "{}"),
        (3, base + td(minutes=10), 1, "purchase", 50.0, "{}"),
        (4, base + td(hours=3), 1, "view", 30.0, "{}"),
        # user 2: single event
        (5, base + td(days=1), 2, "error", 7.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    import os
    import shutil
    out_dir = str(tmp_path)
    # read_table expects <dir>/events.parquet as a file or dir: the dir works
    feats = {r["user_id"]: r for r in user_features(spark, out_dir).collect()}
    u1 = feats[1]
    assert u1["n_events"] == 4 and u1["n_view"] == 2 and u1["n_purchase"] == 1
    assert u1["n_sessions"] == 2
    assert u1["active_days"] == 1
    assert u1["purchase_value_sum"] == 50.0
    assert u1["value_mean"] == pytest.approx(27.5)
    assert feats[2]["n_sessions"] == 1 and feats[2]["n_error"] == 1


def test_bursts_flags_planted_spike(spark):
    from datetime import datetime, timedelta as td

    rows = []
    eid = 0
    # 48 hourly buckets of ~5 events, then one bucket of 50
    for h in range(48):
        n = 50 if h == 40 else 5
        for j in range(n):
            rows.append((eid, datetime(2024, 1, 1) + td(hours=h, minutes=j % 60)))
            eid += 1
    d = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = ts.bursts(d, every="1 hour", trailing=24, factor=3.0,
                    time_col="ts").collect()
    assert len(out) == 1
    [r] = out
    assert r["n"] == 50 and str(r["bucket"]) == "2024-01-02 16:00:00"
    assert r["burst_factor"] == pytest.approx(10.0, rel=0.01)


def test_overlap_join_excludes_empty_intervals(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 0)
    left = spark.createDataFrame(
        [(1, 10, t0, t0 + timedelta(hours=2))],
        "user_id long, l_id long, l_lo timestamp, l_hi timestamp",
    )
    # an EMPTY right interval sitting inside the left one: [1:00, 1:00)
    # intersects nothing and must not match
    right = spark.createDataFrame(
        [(1, 20, t0 + timedelta(hours=1), t0 + timedelta(hours=1)),
         (1, 21, t0 + timedelta(hours=1), t0 + timedelta(hours=1, minutes=5))],
        "user_id long, r_id long, r_lo timestamp, r_hi timestamp",
    )
    out = ts.overlap_join(
        left, right, on=["user_id"],
        left_lo="l_lo", left_hi="l_hi", right_lo="r_lo", right_hi="r_hi",
        bucket=timedelta(hours=1),
    ).collect()
    assert {(r["l_id"], r["r_id"]) for r in out} == {(10, 21)}


def test_activity_heatmap_iso_weekday(spark):
    from datetime import datetime

    # 2024-01-01 is a Monday; 2024-01-07 a Sunday
    rows = [
        (1, datetime(2024, 1, 1, 9, 30), 10.0),
        (2, datetime(2024, 1, 1, 9, 45), 20.0),
        (3, datetime(2024, 1, 7, 23, 5), 7.0),
    ]
    d = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = {(r["weekday"], r["hour"]): r for r in
           ts.activity_heatmap(d, time_col="ts", value_col="value").collect()}
    assert out[(1, 9)]["n"] == 2 and out[(1, 9)]["avg_value"] == 15.0
    assert out[(7, 23)]["n"] == 1


def test_anomaly_decomposed_flags_spike_not_seasonality(spark):
    import math
    from datetime import datetime, timedelta as td

    # strong daily cycle + linear trend + ONE spike; a plain value
    # threshold would flag every cycle peak — the residual method
    # must flag only the spike
    base = datetime(2024, 1, 1)
    rows = []
    for i in range(24 * 10):
        v = 100 + 0.05 * i + 30 * math.sin(2 * math.pi * (i % 24) / 24)
        if i == 120:
            v += 200.0
        rows.append((i, base + td(hours=i), v))
    d = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    out = ts.anomaly_decomposed(
        d, period=25, threshold=3.5, time_col="ts",
        order_tiebreak=["event_id"], id_cols=["event_id"],
    ).collect()
    flagged = {r["event_id"] for r in out}
    assert 120 in flagged
    # the spike bleeds into its 25-row MA neighborhood; nothing
    # OUTSIDE that neighborhood (i.e. ordinary seasonal peaks) alerts
    assert all(108 <= e <= 132 for e in flagged)


def test_theil_sen_resists_outlier_and_detects_trend(spark):
    """A clean +2/hour trend with one massive spike: the Sen slope
    stays on the true trend (OLS would be dragged), Mann-Kendall S is
    near-maximal, and a flat key reports tau ~ 0."""
    from datetime import datetime, timedelta

    from fossil_spark.operators import timeseries as ts

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(24):
        v = 10.0 + 2.0 * i + (10000.0 if i == 12 else 0.0)
        rows.append((i, "up", base + timedelta(hours=i), v))
        rows.append((100 + i, "flat", base + timedelta(hours=i),
                     5.0 if i % 2 == 0 else 5.5))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {r["event_type"]: r for r in ts.theil_sen_trend(
        df, every="1 hour", time_col="ts", by=["event_type"]
    ).collect()}
    up = out["up"]
    assert up["n_buckets"] == 24
    # slope is per second; 2.0/hour = 2/3600 per sec
    assert up["sen_slope_per_sec"] == pytest.approx(2.0 / 3600, rel=1e-6)
    # 23 of 24 buckets form a clean ascent; S near the 276 maximum
    assert up["mk_s"] >= 230
    assert out["flat"]["kendall_tau"] == pytest.approx(0.0, abs=0.15)
    # intercept reconstructs the clean series' level at t=0 epoch-wise:
    # v(t) = intercept + slope * epoch_sec
    t0 = base.replace(tzinfo=None)
    epoch0 = (t0 - datetime(1970, 1, 1)).total_seconds()
    assert up["intercept"] + up["sen_slope_per_sec"] * epoch0 == \
        pytest.approx(10.0, abs=1.0)


def test_ks_drift_detects_planted_shift(spark):
    """Key 'shifted' jumps +5.0 after the split (D ~ 1 -> drifted);
    key 'stable' draws the same values before and after (D small)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators import timeseries as ts

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        t = base + timedelta(hours=i)          # split at hour 100
        v = (i * 37 % 100) / 10.0
        rows.append((i, "stable", t, v))
        rows.append((1000 + i, "shifted", t, v + (5.0 if i >= 100 else 0.0)))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {r["event_type"]: r for r in ts.ks_drift(
        df, split=base + timedelta(hours=100), time_col="ts",
        by=["event_type"],
    ).collect()}
    assert out["shifted"]["n_before"] == out["shifted"]["n_after"] == 100
    assert out["shifted"]["ks_d"] >= 0.5 and out["shifted"]["drifted"]
    assert out["stable"]["ks_d"] <= out["stable"]["ks_crit"]
    assert not out["stable"]["drifted"]


def test_psi_drift_scores_planted_shift(spark):
    """A +5 level shift after the split lands in the 'significant'
    PSI band; an unchanged distribution scores near zero."""
    from datetime import datetime, timedelta

    from fossil_spark.operators import timeseries as ts

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        t = base + timedelta(minutes=i)        # split at minute 200
        v = (i * 37 % 100) / 10.0
        rows.append((i, "stable", t, v))
        rows.append((1000 + i, "shifted", t, v + (5.0 if i >= 200 else 0.0)))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {r["event_type"]: r for r in ts.psi_drift(
        df, split=base + timedelta(minutes=200), time_col="ts",
        by=["event_type"],
    ).collect()}
    assert out["shifted"]["psi"] > 0.5 and out["shifted"]["shifted"]
    assert out["stable"]["psi"] < 0.05 and not out["stable"]["shifted"]
    assert out["stable"]["n_before"] == out["stable"]["n_after"] == 200


def test_benford_flags_uniform_but_not_log_uniform(spark):
    """2^i values (log-uniform, the canonical Benford-conforming
    sequence) score tiny deviations; uniform 100..999 values put
    ~1/9 in every digit and deviate hard on digit 1. Zero, negative
    and sub-quantum values are excluded; the digit grid is full."""
    from fossil_spark.operators import timeseries as ts

    # scaled by 1e-6 so floor(value*scale) = 2^i exactly-ish (an ulp
    # slip to 2^i - 1 keeps the leading digit: powers of two never
    # end in 0) and stays far under the int64 quantization bound
    rows = [("pow2", float(2 ** i) * 1e-6) for i in range(1, 61)]
    rows += [("uniform", 100.0 + (i * 89) % 900) for i in range(300)]
    rows += [("uniform", 0.0), ("uniform", -7.0), ("uniform", 1e-9)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = ts.benford(df, "value", ["event_type"]).collect()
    assert len(out) == 18                       # full 1-9 grid per key
    by = {(r["event_type"], r["digit"]): r for r in out}
    assert by[("uniform", 1)]["n_total"] == 300  # exclusions applied
    assert by[("pow2", 1)]["n_total"] == 60
    # uniform: every digit ~1/9 = 0.111, Benford digit 1 expects 0.301
    assert by[("uniform", 1)]["dev"] < -0.15
    # powers of two follow Benford closely on every digit
    for d in range(1, 10):
        assert abs(by[("pow2", d)]["dev"]) < 0.05, (d, by[("pow2", d)])
    # expected column carries the law itself
    assert abs(by[("pow2", 1)]["expected"] - 0.30103) < 1e-9


def test_benford_excludes_nan_inf_overflow(spark):
    """NaN, Inf, negatives, and int64-overflowing magnitudes are all
    excluded (not clamped into digit 9, not a job failure)."""
    rows = [("k", 123.0), ("k", float("nan")), ("k", float("inf")),
            ("k", -5.0), ("k", 1e19)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = ts.benford(df, "value", ["event_type"]).collect()
    assert all(r["n_total"] == 1 for r in out)
    assert sum(r["n"] for r in out) == 1
    assert next(r for r in out if r["digit"] == 1)["n"] == 1


def test_drawdown_planted(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v)
        for i, v in enumerate([10.0, 8.0, 12.0, 5.0, 11.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = ts.drawdown(df, "ts", ["event_type"], "value", ["event_id"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 5
    assert r["peak_value"] == 12.0 and r["trough_value"] == 5.0
    assert r["max_drawdown"] == 7.0
    assert r["trough_ts"] == t0 + timedelta(seconds=3)
    assert r["max_drawdown_frac"] == round(7.0 / 12.0, 6)


def test_drawdown_tie_picks_earliest(spark):
    t0 = datetime(2024, 1, 1)
    # two troughs with the identical drawdown of 5: at t=1 and t=3
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v)
        for i, v in enumerate([10.0, 5.0, 10.0, 5.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.drawdown(df, "ts", ["event_type"], "value", ["event_id"]).collect()[0]
    assert r["max_drawdown"] == 5.0
    assert r["trough_ts"] == t0 + timedelta(seconds=1)


def test_cadence_exact_rank_quantiles(spark):
    t0 = datetime(2024, 1, 1)
    # gaps: 1s, 1s, 2s, 6s
    secs = [0, 1, 2, 4, 10]
    rows = [(i, t0 + timedelta(seconds=s), "k") for i, s in enumerate(secs)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    r = ts.cadence(df, "ts", ["event_type"], ["event_id"]).collect()[0]
    assert (r["n_events"], r["n_gaps"]) == (5, 4)
    assert (r["min_gap_us"], r["max_gap_us"]) == (1_000_000, 6_000_000)
    assert r["mean_gap_us"] == 2_500_000.0
    # median of [1, 1, 2, 6]s = (1+2)/2 = 1.5s
    assert r["median_gap_us"] == 1_500_000.0
    # p95 rank = 4 - 4//20 = 4 -> the largest gap
    assert r["p95_gap_us"] == 6_000_000
    assert r["worst_over_median"] == 4.0


def test_cadence_omits_single_event_keys(spark):
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(0, t0, "solo"), (1, t0, "pair"), (2, t0 + timedelta(seconds=1), "pair")],
        "event_id long, ts timestamp, event_type string",
    )
    out = ts.cadence(df, "ts", ["event_type"], ["event_id"]).collect()
    assert [r["event_type"] for r in out] == ["pair"]


def test_forecast_eval_linear_series_perfect_skill(spark):
    # value = bucket index: Holt's exact init/recurrence forecasts a
    # linear series perfectly (mae 0, skill 1); naive persistence
    # trails by h each step
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(hours=i), "k", float(i)) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.forecast_eval(
        df, cutoff=t0 + timedelta(hours=25), horizon=5,
        time_col="ts", by=["event_type"],
    ).collect()[0]
    assert r["n_test"] == 5
    assert r["mae_holt"] == 0.0
    # naive = last train value (24): errors 1..5 -> mae 3
    assert r["mae_naive"] == 3.0
    assert r["skill"] == 1.0


def test_slo_burn_multiwindow_alert(spark):
    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    # 7 hours at 10% errors, then 6 hours fully broken (100% errors)
    for h in range(13):
        err_every = 1 if h >= 7 else 10
        for i in range(10):
            ty = "error" if i % err_every == 0 else "view"
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), ty))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = {r["bucket"]: r for r in
           ts.slo_burn(df, error_budget=0.25, time_col="ts").collect()}
    calm = out[t0 + timedelta(hours=3)]
    assert calm["burn_fast"] == 0.4 and not calm["alert"]
    # first broken hour: fast window fires and the trailing window
    # crosses exactly 1.0 ((5*1 + 10) / 60 = budget) -> page
    onset = out[t0 + timedelta(hours=7)]
    assert onset["burn_fast"] == 4.0 and onset["burn_slow"] == 1.0
    assert onset["alert"]
    # sustained breakage: both windows saturated
    late = out[t0 + timedelta(hours=12)]
    assert late["burn_fast"] == 4.0 and late["burn_slow"] == 4.0
    assert late["alert"]


def test_dtw_identical_and_warped_series(spark):
    t0 = datetime(2024, 1, 1)

    def mk(vals_a, vals_b):
        rows, eid = [], 0
        for i, v in enumerate(vals_a):
            rows.append((eid, t0 + timedelta(hours=6 * i), "a", float(v)))
            eid += 1
        for i, v in enumerate(vals_b):
            rows.append((eid, t0 + timedelta(hours=6 * i), "b", float(v)))
            eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, event_type string, value double",
        )
        return ts.dtw_distance(
            df, "a", "b", every="6 hours", time_col="ts",
            series_col="event_type",
        ).collect()[0]

    same = mk([1, 2, 3, 4], [1, 2, 3, 4])
    assert same["n_buckets"] == 4 and same["dtw"] == 0.0
    # a step shift: pointwise distance is 4x1, but DTW warps to 0 at
    # the overlap and only pays at the edges
    shifted = mk([1, 1, 2, 3], [1, 2, 3, 3])
    assert shifted["dtw"] == 0.0
    # genuinely different shapes pay a positive cost
    diff = mk([0, 0, 0, 0], [5, 5, 5, 5])
    assert diff["dtw"] == 20.0 and diff["dtw_per_step"] == 2.5


def test_twa_trapezoid_planted(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, "k", 0.0),
        (1, t0 + timedelta(seconds=10), "k", 10.0),
        (2, t0 + timedelta(seconds=30), "k", 10.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.time_weighted_avg(
        df, "1 day", "ts", ["event_type"], "value", ["event_id"]
    ).collect()[0]
    # areas: (0+10)/2*10s + (10+10)/2*20s = 250 value-seconds over 30s
    assert r["n_samples"] == 3
    assert r["span_us"] == 30_000_000
    assert r["twa"] == round(250.0 / 30.0, 6)
    # the plain mean over-weights nothing here: (0+10+10)/3
    assert r["mean_value"] == pytest.approx(20.0 / 3.0, abs=1e-9)


def test_twa_single_sample_bucket_omitted(spark):
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(0, t0, "k", 5.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    assert (
        ts.time_weighted_avg(
            df, "1 day", "ts", ["event_type"], "value", ["event_id"]
        ).count()
        == 0
    )


def test_threshold_episodes_planted(spark):
    t0 = datetime(2024, 1, 1)
    vals = [1.0, 9.0, 9.0, 1.0, 9.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = sorted(
        ts.threshold_episodes(
            df, 5.0, "ts", ["event_type"], "value", ["event_id"]
        ).collect(),
        key=lambda r: r["start_ts"],
    )
    assert len(out) == 2
    first, second = out
    assert first["n_samples"] == 2
    assert first["duration_us"] == 1_000_000
    assert first["peak_value"] == 9.0
    assert first["start_ts"] == t0 + timedelta(seconds=1)
    assert second["n_samples"] == 1 and second["duration_us"] == 0


def test_rolling_median_resists_outlier(spark):
    t0 = datetime(2024, 1, 1)
    vals = [1.0, 100.0, 3.0, 4.0, 5.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = sorted(
        ts.rolling_median(
            df, 3, "ts", ["event_type"], "value", ["event_id"]
        ).collect(),
        key=lambda r: r["ts"],
    )
    # only full 3-row frames emit; medians are data elements
    assert [r["rolling_median"] for r in out] == [3.0, 4.0, 4.0]
    assert out[0]["deviation"] == 0.0
    assert out[1]["deviation"] == 0.0


def test_rolling_median_rejects_even_window(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        ts.rolling_median(df, 4)


def test_period_detect_finds_planted_period(spark):
    t0 = datetime(2024, 1, 1)
    # strong period-6 square wave over 48 hourly samples
    rows = [
        (i, t0 + timedelta(hours=i), "k", 10.0 if i % 6 >= 3 else 0.0)
        for i in range(48)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = ts.period_detect(
        df, every="1 hour", time_col="ts", by=["event_type"],
        value_col="value",
    ).collect()
    best = [r for r in out if r["is_best"]]
    assert len(best) == 1
    # multiples of 6 all explain 100% of the variance; the tie breaks
    # to the smallest period
    assert best[0]["period"] == 6
    assert best[0]["var_explained"] == 1.0
    scores = {r["period"]: r["var_explained"] for r in out}
    assert scores[12] == 1.0 and scores[5] < 1.0


def test_pacf_matches_manual_durbin_levinson(spark):
    t0 = datetime(2024, 1, 1)
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    L = 3
    a = ts.acf(df, L, "ts", ["event_type"], "value", ["event_id"]).collect()[0]
    r = [None] + [a[f"acf_{k}"] for k in range(1, L + 1)]
    # manual Durbin-Levinson with the same op order
    phi = {(1, 1): r[1]}
    for k in range(2, L + 1):
        num = r[k] - sum(phi[(k - 1, j)] * r[k - j] for j in range(1, k))
        den = 1.0 - sum(phi[(k - 1, j)] * r[j] for j in range(1, k))
        phi[(k, k)] = num / den
        for j in range(1, k):
            phi[(k, j)] = phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1, k - j)]
    out = ts.pacf(df, L, "ts", ["event_type"], "value", ["event_id"]).collect()[0]
    assert out["pacf_1"] == round(phi[(1, 1)], 6)
    for k in range(2, L + 1):
        assert out[f"pacf_{k}"] == pytest.approx(phi[(k, k)], abs=1e-6)


def test_session_stats_planted(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, 7),
        (1, t0 + timedelta(seconds=10), 7),
        (2, t0 + timedelta(hours=2), 7),  # new session, single event
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    r = ts.session_stats(
        df, timedelta(minutes=30), "ts", ["user_id"], ["event_id"]
    ).collect()[0]
    assert (r["n_sessions"], r["n_events"]) == (2, 3)
    assert r["mean_events"] == 1.5
    assert r["bounce_rate"] == 0.5
    assert r["mean_duration_us"] == 5_000_000.0
    assert r["median_duration_us"] == 5_000_000.0
    assert r["max_duration_us"] == 10_000_000


def test_top_movers_ranks_biggest_delta_first(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    # key a: 0 -> 100 (delta 100); key b: 50 -> 45 (delta -5)
    for day, (va, vb) in enumerate([(0.0, 50.0), (100.0, 45.0)]):
        rows.append((2 * day, t0 + timedelta(days=day), "a", va))
        rows.append((2 * day + 1, t0 + timedelta(days=day), "b", vb))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = ts.top_movers(df, "1 day", 10, "ts", ["event_type"], "value").collect()
    out = sorted(out, key=lambda r: r["rank"])
    assert [r["event_type"] for r in out] == ["a", "b"]
    assert out[0]["delta"] == 100.0 and out[0]["pct_change"] is None
    assert out[1]["delta"] == -5.0 and out[1]["pct_change"] == -0.1


def test_stickiness_identities(spark):
    from fossil_spark.queries import analytics

    out = analytics.stickiness(spark, "/root/testdata/sf0.001").collect()
    assert len(out) >= 7
    by_day = sorted(out, key=lambda r: r["day"])
    for r in out:
        assert r["wau"] >= r["dau"]
        assert 0 < r["stickiness"] <= 1.0
    # day 1 has no history: everyone active that day IS the WAU
    assert by_day[0]["wau"] == by_day[0]["dau"]


def test_seasonal_strength_pure_seasonal_series(spark):
    t0 = datetime(2024, 1, 1)
    pattern = [0.0, 10.0, 20.0, 10.0, 0.0]
    rows = [
        (i, t0 + timedelta(hours=i), "k", pattern[i % 5]) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.seasonal_strength(
        df, period=5, time_col="ts", by=["event_type"],
        order_tiebreak=["event_id"],
    ).collect()[0]
    # a pure periodic signal decomposes exactly: residual == 0
    assert r["var_resid"] == 0.0
    assert r["f_seasonal"] == 1.0


def test_corr_matrix_planted_correlations(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(24):
        v = float(i % 7)
        rows += [
            (3 * i, t0 + timedelta(hours=i), "a", v),
            (3 * i + 1, t0 + timedelta(hours=i), "b", 2.0 * v + 1.0),
            (3 * i + 2, t0 + timedelta(hours=i), "c", -v),
        ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {
        (r["key_a"], r["key_b"]): r["corr"]
        for r in ts.corr_matrix(df, "1 hour", "ts", "event_type", "value").collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert out[("b", "c")] == -1.0


def test_winsorized_clips_outlier(spark):
    t0 = datetime(2024, 1, 1)
    vals = [float(i) for i in range(10)] + [1000.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.winsorized_stats(df, 0.1, "ts", ["event_type"], "value").collect()[0]
    # n=11: lo_rank = floor(1.1)+1 = 2 -> cut 1.0; hi_rank = 10 -> cut 9.0
    assert (r["lo_cut"], r["hi_cut"]) == (1.0, 9.0)
    assert r["n_clipped"] == 2
    assert r["mean_raw"] == round(1045.0 / 11.0, 10) or abs(r["mean_raw"] - 1045.0 / 11) < 1e-9
    assert abs(r["mean_winsorized"] - 5.0) < 1e-9


def test_apdex_planted(spark):
    t0 = datetime(2024, 1, 1)
    vals = [0.5, 1.0, 2.0, 4.0, 5.0]
    rows = [
        (i, t0 + timedelta(minutes=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.apdex(df, 1.0, "1 hour", "ts", ["event_type"], "value").collect()[0]
    # satisfied: 0.5, 1.0 (boundary in); tolerating: 2.0, 4.0 (4T in)
    assert (r["n_satisfied"], r["n_tolerating"], r["n_frustrated"]) == (2, 2, 1)
    assert r["apdex"] == (2 + 2 / 2) / 5


def test_profile_drift_shifted_hours(spark):
    t0 = datetime(2024, 1, 1, 0, 0)
    rows = [(i, t0 + timedelta(minutes=i), "k") for i in range(3)]
    t1 = datetime(2024, 1, 2, 12, 0)
    rows += [(10 + i, t1 + timedelta(minutes=i), "k") for i in range(3)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = ts.profile_drift(df, "ts", ["event_type"]).collect()[0]
    # first half entirely hour 0, second entirely hour 12: maximal L1
    assert (r["n_first"], r["n_second"]) == (3, 3)
    assert r["profile_l1"] == 2.0


def test_winsorized_rejects_bad_p(spark):
    import pytest as _pytest

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(0, t0, "k", 1.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    for bad in (0.5, 0.7, -0.1, 1.0):
        with _pytest.raises(ValueError):
            ts.winsorized_stats(df, bad, "ts", ["event_type"], "value")


def test_apdex_ignores_null_latencies(spark):
    t0 = datetime(2024, 1, 1)
    vals = [0.5, 1.0, 2.0, 4.0, 5.0, None, None]
    rows = [
        (i, t0 + timedelta(minutes=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.apdex(df, 1.0, "1 hour", "ts", ["event_type"], "value").collect()[0]
    # NULLs are "no measurement": excluded from n, not counted frustrated
    assert r["n"] == 5
    assert (r["n_satisfied"], r["n_tolerating"], r["n_frustrated"]) == (2, 2, 1)
    assert r["apdex"] == (2 + 2 / 2) / 5


def test_profile_drift_key_empty_in_one_half(spark):
    t0 = datetime(2024, 1, 1, 0, 0)
    # key "a" spans both halves of the global range; key "late" exists
    # only in the second half -> its first-half total is 0
    rows = [(i, t0 + timedelta(hours=48 * i), "a") for i in range(2)]
    t1 = datetime(2024, 1, 2, 12, 0)
    rows += [(10 + i, t1 + timedelta(minutes=i), "late") for i in range(3)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["event_type"]: r for r in ts.profile_drift(df, "ts", ["event_type"]).collect()}
    # one-sided key: shares of the empty half are 0, L1 = 1.0 (not NULL)
    assert out["late"]["n_first"] == 0
    assert out["late"]["profile_l1"] == 1.0


def test_staleness_global_no_keys(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(minutes=i), "k") for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = ts.staleness(df, 3.0, "ts", None, ["event_id"]).collect()
    assert len(out) == 1
    assert out[0]["age_us"] == 0 and not out[0]["is_stale"]


def test_completeness_counts_missing_buckets(spark):
    t0 = datetime(2024, 1, 1)
    hours = [0, 1, 2, 5]
    rows = [(i, t0 + timedelta(hours=h, minutes=1), "k") for i, h in enumerate(hours)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = ts.completeness(df, "1 hour", "ts", ["event_type"]).collect()[0]
    assert (r["expected_buckets"], r["observed_buckets"]) == (6, 4)
    assert r["coverage"] == round(4 / 6, 6) or abs(r["coverage"] - 0.666667) < 1e-9
    assert r["max_missing_run"] == 2


def test_user_outliers_flags_whale(spark):
    from fossil_spark.queries import analytics

    out = analytics.user_outliers(spark, "/root/testdata/sf0.001", z_cut=1.0).collect()
    assert len(out) > 0
    for r in out:
        assert abs(r["mod_zscore"]) > 1.0
    # flagged users are the extremes: every flagged count is outside
    # the unflagged counts' [min, max] envelope on at least one side
    flagged = {r["user_id"] for r in out}
    from fossil_spark.session import read_table

    counts = {
        r["user_id"]: r["n"]
        for r in read_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    unflagged = [n for u, n in counts.items() if u not in flagged]
    for u in flagged:
        assert counts[u] > max(unflagged) or counts[u] < min(unflagged)


def test_hampel_flags_local_spike_not_regime_change(spark):
    t0 = datetime(2024, 1, 1)
    # regime 1 at ~10, regime 2 at ~50; one spike inside regime 2.
    vals = [10.0, 11.0, 9.0, 10.0, 12.0] + [50.0, 51.0, 49.0, 500.0, 50.0, 51.0, 49.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = ts.hampel(
        df, window_rows=5, k=3.0, time_col="ts", by=["event_type"],
        value_col="value", order_tiebreak=["event_id"],
    ).collect()
    flagged_ts = {r["ts"] for r in out}
    # the spike is flagged
    assert t0 + timedelta(seconds=8) in flagged_ts
    # once the trailing window has caught up with the new regime, its
    # ordinary values are NOT flagged (indices 10, 11)
    assert t0 + timedelta(seconds=10) not in flagged_ts
    assert t0 + timedelta(seconds=11) not in flagged_ts


def test_flatline_finds_stuck_run(spark):
    t0 = datetime(2024, 1, 1)
    vals = [1.0, 1.0, 1.0, 2.0, 2.0, 5.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = ts.flatline(
        df, min_run=3, time_col="ts", by=["event_type"],
        value_col="value", order_tiebreak=["event_id"],
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["value"] == 1.0 and r["n_samples"] == 3
    assert r["duration_us"] == 2_000_000


def test_percentile_bands_exact_ranks(spark):
    t0 = datetime(2024, 1, 1)
    vals = [float(v) for v in range(1, 21)]  # 1..20 in one bucket
    rows = [
        (i, t0 + timedelta(minutes=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.percentile_bands(
        df, "1 hour", "ts", ["event_type"], "value"
    ).collect()[0]
    assert (r["n"], r["vmin"], r["vmax"]) == (20, 1.0, 20.0)
    # n=20: p50 = (10th + 11th)/2; p95 = ceil(19)=19th; p99 = 20th
    assert r["p50"] == 10.5
    assert r["p95"] == 19.0
    assert r["p99"] == 20.0


def test_error_episodes_consecutive_buckets_merge(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hours 0,1 hot (50% errors); hour 2 cool; hour 4 hot (not adjacent)
    for h, err_frac in [(0, 0.5), (1, 0.5), (2, 0.0), (4, 0.5)]:
        for i in range(4):
            typ = "error" if i < 4 * err_frac else "view"
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), typ))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = sorted(
        ts.error_episodes(df, "error", 0.25, "1 hour", "ts", "event_type").collect(),
        key=lambda r: r["start_bucket"],
    )
    assert len(out) == 2
    first, second = out
    # hours 0-1 merge into one incident
    assert first["n_buckets"] == 2
    assert first["start_bucket"] == t0
    assert first["end_bucket"] == t0 + timedelta(hours=1)
    assert first["total_errors"] == 4 and first["peak_rate"] == 0.5
    assert second["n_buckets"] == 1
    assert second["start_bucket"] == t0 + timedelta(hours=4)


def test_conversion_lag_planted(spark, monkeypatch):
    import fossil_spark.queries.analytics as mod

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: purchase BEFORE signup is ignored; converts in 2h
        (0, t0 - timedelta(hours=5), 1, "purchase", 1.0),
        (1, t0, 1, "signup", 0.0),
        (2, t0 + timedelta(hours=2), 1, "purchase", 1.0),
        # user 2: signup, never purchases
        (3, t0, 2, "signup", 0.0),
        # user 3: no signup -> not counted at all
        (4, t0, 3, "purchase", 1.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: ev)
    r = mod.conversion_lag(spark, "x").collect()[0]
    assert (r["n_signup_users"], r["n_converted"]) == (2, 1)
    assert r["conversion_rate"] == 0.5
    assert r["median_lag_hours"] == 2.0 and r["max_lag_hours"] == 2.0


def test_mttr_mtbf_planted(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 10-hour grid; incidents at hours 1-2 and 7 (50% errors); rest clean
    for h in range(10):
        hot = h in (1, 2, 7)
        for i in range(4):
            typ = "error" if (hot and i < 2) else "view"
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), typ))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = ts.mttr_mtbf(df, "error", 0.25, "1 hour", "ts", "event_type").collect()[0]
    assert r["n_incidents"] == 2
    # durations 2 and 1 buckets -> mttr 1.5 h; starts at 1 and 7 -> mtbf 6 h
    assert r["mttr_hours"] == 1.5
    assert r["mtbf_hours"] == 6.0
    assert (r["hot_buckets"], r["grid_buckets"]) == (3, 10)
    assert r["availability"] == 0.7


def test_exp_histogram_buckets_and_cumulative(spark):
    t0 = datetime(2024, 1, 1)
    vals = [0.5, 1.0, 1.5, 3.0, 100.0, 3_000_000.0]
    rows = [
        (i, t0 + timedelta(seconds=i), "k", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["le"]: (r["n"], r["cum_n"]) for r in ts.exp_histogram(
        df, 20, "ts", ["event_type"], "value"
    ).collect()}
    assert out[1.0] == (2, 2)       # 0.5, 1.0 (boundary inclusive)
    assert out[2.0] == (1, 3)       # 1.5
    assert out[4.0] == (1, 4)       # 3.0
    assert out[128.0] == (1, 5)     # 100.0
    assert out[float("inf")] == (1, 6)  # overflow past 2^20


def test_capacity_eta_linear_series(spark):
    t0 = datetime(2024, 1, 1)
    # value climbs 1 unit per hour from 0: hits 200 at hour 200
    rows = [
        (i, t0 + timedelta(hours=i), "k", float(i)) for i in range(48)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.capacity_eta(
        df, 200.0, "1 hour", "ts", ["event_type"], "value"
    ).collect()[0]
    assert r["sen_slope_per_sec"] > 0
    # now = hour 47 at value 47; 153 more hours = 6.375 days
    assert abs(r["days_to_limit"] - 153 / 24) < 0.05
    # slope rounds @1e-9 and epoch-scale timestamps amplify it by
    # ~t_now*5e-10 ~ 0.4 absolute — deterministic (both engines agree)
    assert abs(r["current_trend_value"] - 47.0) < 1.0


def test_growth_accounting_partitions_actives(spark, monkeypatch):
    import fossil_spark.queries.analytics as mod

    t0 = datetime(2024, 1, 1)  # a Monday; week buckets are epoch-aligned
    wk = timedelta(weeks=1)
    rows = [
        # user 1: weeks 0,1 (new, retained), churns into week 2
        (0, t0, 1, "view", 0.0),
        (1, t0 + wk, 1, "view", 0.0),
        # user 2: weeks 0, 2 (new, resurrected)
        (2, t0, 2, "view", 0.0),
        (3, t0 + 2 * wk, 2, "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: ev)
    out = sorted(mod.growth_accounting(spark, "x").collect(), key=lambda r: r["week"])
    w0, w1, w2 = out
    assert (w0["n_new"], w0["n_retained"], w0["n_resurrected"]) == (2, 0, 0)
    assert (w1["n_new"], w1["n_retained"], w1["n_churned"]) == (0, 1, 1)
    assert (w2["n_resurrected"], w2["n_churned"]) == (1, 1)


def test_burstiness_periodic_vs_bursty(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(seconds=i), "periodic") for i in range(20)
    ]
    # bursty: tight clumps separated by long silences
    secs = [0, 1, 2, 3, 100, 101, 102, 103, 400, 401, 402, 403]
    rows += [
        (100 + i, t0 + timedelta(seconds=s), "bursty")
        for i, s in enumerate(secs)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["event_type"]: r for r in ts.burstiness(
        df, "ts", ["event_type"], ["event_id"]
    ).collect()}
    # perfectly periodic: sigma = 0 -> B = -1
    assert out["periodic"]["burstiness"] == -1.0
    assert out["bursty"]["burstiness"] > 0.3


def test_value_entropy_uniform_vs_constant(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(seconds=i), "uniform", float(10 * (i % 4)))
        for i in range(40)
    ]
    rows += [
        (100 + i, t0 + timedelta(seconds=i), "constant", 5.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["event_type"]: r for r in ts.value_entropy(
        df, 10.0, "ts", ["event_type"], "value"
    ).collect()}
    import math

    # 4 equiprobable bins -> H = ln 4, ratio 1
    assert abs(out["uniform"]["entropy_nats"] - math.log(4)) < 1e-6
    assert out["uniform"]["entropy_ratio"] == 1.0
    assert out["constant"]["entropy_nats"] == 0.0
    assert out["constant"]["entropy_ratio"] is None


def test_peak_to_mean_planted(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, n in [(0, 2), (1, 6), (2, 2), (3, 2)]:
        for i in range(n):
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), "k"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = ts.peak_to_mean(df, "1 hour", "ts", ["event_type"]).collect()[0]
    assert (r["n_buckets"], r["peak_count"]) == (4, 6)
    assert r["mean_per_bucket"] == 3.0
    assert r["peak_bucket"] == t0 + timedelta(hours=1)
    assert r["peak_to_mean"] == 2.0


def test_wow_compare_planted(spark):
    t0 = datetime(2024, 1, 1, 9)
    rows = [
        (0, t0, "k", 10.0),
        (1, t0 + timedelta(weeks=1), "k", 15.0),
        (2, t0 + timedelta(weeks=1, hours=1), "k", 7.0),  # no prior week
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["bucket"]: r for r in ts.wow_compare(
        df, "1 hour", "1 week", "ts", ["event_type"], "value"
    ).collect()}
    r = out[t0 + timedelta(weeks=1)]
    assert (r["value"], r["value_lookback"]) == (15.0, 10.0)
    assert r["wow_delta"] == 5.0 and r["wow_pct"] == 0.5
    assert out[t0 + timedelta(weeks=1, hours=1)]["value_lookback"] is None
    assert out[t0]["wow_pct"] is None


def test_slot_anomaly_calendar_aware(spark):
    t0 = datetime(2024, 1, 1)  # a Monday
    rows = []
    eid = 0
    # Monday 9am slot across 6 weeks: five ~100s and one 500 spike
    for week in range(6):
        v = 500.0 if week == 5 else 100.0 + week  # tiny spread, one spike
        rows.append((eid, t0 + timedelta(weeks=week, hours=9), "k", v))
        eid += 1
    # a different slot (Tuesday 9am) with constant values: never flags
    for week in range(6):
        rows.append(
            (eid, t0 + timedelta(weeks=week, days=1, hours=9), "k", 50.0)
        )
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = ts.slot_anomaly(df, 2.0, "ts", ["event_type"], "value").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["slot_weekday"], r["slot_hour"]) == (1, 9)
    assert r["value"] == 500.0 and r["zscore"] > 2.0


def test_ljung_box_white_vs_structured_residuals(spark):
    import hashlib

    t0 = datetime(2024, 1, 1)

    def u(i):
        return int(hashlib.md5(f"lb:{i}".encode()).hexdigest()[:8], 16) / 0xFFFFFFFF

    # white-ish noise: decompose leaves uncorrelated residuals
    rows = [
        (i, t0 + timedelta(hours=i), "white", 100.0 * u(i))
        for i in range(200)
    ]
    # strong period-10 signal with period-25 decompose: the seasonal
    # fit misses it -> residuals stay autocorrelated
    rows += [
        (1000 + i, t0 + timedelta(hours=i), "structured",
         100.0 if i % 10 < 5 else 0.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["event_type"]: r for r in ts.ljung_box(
        df, 5, 25, "ts", ["event_type"], "value", ["event_id"]
    ).collect()}
    assert out["structured"]["residuals_autocorrelated"]
    assert out["structured"]["q_stat"] > out["white"]["q_stat"]
    assert not out["white"]["residuals_autocorrelated"]


def test_fano_poisson_vs_clumped(spark):
    import hashlib

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # regular: exactly 5 events every hour -> var 0 -> fano 0
    for h in range(48):
        for i in range(5):
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), "regular"))
            eid += 1
    # clumped: 20 events every 4th hour -> fano >> 1
    for h in range(0, 48, 4):
        for i in range(20):
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), "clumped"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["event_type"]: r for r in ts.fano_factor(
        df, "1 hour", "ts", ["event_type"]
    ).collect()}
    assert out["regular"]["fano"] == 0.0
    # zero-count buckets inside the range COUNT: 45-bucket grid (hours
    # 0..44), 12 hot buckets of 20 -> mean 16/3, var 400*12/45 - mean^2
    assert out["clumped"]["n_buckets"] == 45
    assert out["clumped"]["fano"] > 10.0


def test_staleness_flags_dead_feed(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    # live: ticks every minute up to the corpus end
    rows += [(i, t0 + timedelta(minutes=i), "live") for i in range(60)]
    # dead: same cadence but stopped 40 minutes before the end
    rows += [(100 + i, t0 + timedelta(minutes=i), "dead") for i in range(20)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["event_type"]: r for r in ts.staleness(
        df, 3.0, "ts", ["event_type"], ["event_id"]
    ).collect()}
    assert not out["live"]["is_stale"] and out["live"]["age_us"] == 0
    assert out["dead"]["is_stale"]
    assert out["dead"]["age_over_median"] == 40.0


def test_peak_hour_consistency_planted(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 4 days: peak at hour 9 on three days, hour 15 once
    for day, peak in enumerate([9, 9, 15, 9]):
        for h in (8, peak):
            n = 5 if h == peak else 2
            for i in range(n):
                rows.append(
                    (eid, t0 + timedelta(days=day, hours=h, minutes=i), "k")
                )
                eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = ts.peak_hour_consistency(df, "ts", ["event_type"]).collect()[0]
    assert (r["n_days"], r["modal_peak_hour"], r["n_days_at_mode"]) == (4, 9, 3)
    assert r["consistency"] == 0.75


def test_cusum_catches_slow_drift(spark):
    t0 = datetime(2024, 1, 1)
    # 60 stable buckets alternating +-1 around 0, then 20 at +4
    # (alternating 3/5): the sustained shift accumulates ~1 z per
    # bucket while the stable stretch oscillates near 0 (note the
    # baseline is the full-series mean, so the shift must dominate
    # the slack k — a data-anchored CUSUM, not a target-mean one)
    rows = []
    for i in range(60):
        rows.append((i, t0 + timedelta(hours=i), "k", 1.0 if i % 2 else -1.0))
    for i in range(60, 80):
        rows.append((i, t0 + timedelta(hours=i), "k", 5.0 if i % 2 else 3.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = sorted(
        ts.cusum_chart(df, 0.5, 5.0, "1 hour", "ts", ["event_type"]).collect(),
        key=lambda r: r["bucket"],
    )
    assert len(out) == 80
    # no alarm during the stable stretch
    assert not any(r["alarm"] for r in out[:60])
    # the upper CUSUM accumulates through the shifted tail and alarms
    assert any(r["alarm"] for r in out[60:])
    assert all(r["cusum_pos"] >= 0.0 and r["cusum_neg"] >= 0.0 for r in out)


def test_cusum_excludes_flatline_keys(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(hours=i), "flat", 5.0) for i in range(10)]
    rows += [(100 + i, t0 + timedelta(hours=i), "live", float(i % 3)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    keys = {r["event_type"] for r in ts.cusum_chart(df, 0.5, 5.0, "1 hour", "ts", ["event_type"]).collect()}
    assert keys == {"live"}


def test_gapfill_eval_linear_wins_on_ramp(spark):
    t0 = datetime(2024, 1, 1)
    # perfect linear ramp: linear interpolation is exact at the
    # held-out buckets, LOCF is off by exactly one hourly step
    rows = [(i, t0 + timedelta(hours=i), "k", float(i)) for i in range(50)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["method"]: r for r in ts.gapfill_eval(
        df, "1 hour", 5, "ts", ["event_type"]
    ).collect()}
    assert out["linear"]["mae"] == 0.0
    assert out["locf"]["mae"] == 1.0
    # holdout before the first train bucket is excluded from locf too
    assert out["locf"]["n_eval"] == out["linear"]["n_eval"]
    assert out["linear"]["n_eval"] >= 8


def test_concurrency_planted_overlap(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    # three users with overlapping sessions inside hour 0:
    # u1 00:00-00:20, u2 00:10-00:30, u3 00:15-00:25 -> peak 3
    for eid, (u, offs) in enumerate([
        (1, [0, 20]), (2, [10, 30]), (3, [15, 25]),
    ]):
        for m in offs:
            rows.append((eid * 10 + m, t0 + timedelta(minutes=m), u))
    # u1 again: a lone session in hour 2 (carry must be 0 by then)
    rows.append((900, t0 + timedelta(hours=2, minutes=5), 1))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r["bucket"]: r for r in ts.concurrency(
        df, timedelta(minutes=30), "1 hour", "ts", "user_id", ["event_id"]
    ).collect()}
    h0 = out[datetime(2024, 1, 1, 0)]
    assert (h0["n_starts"], h0["n_ends"], h0["max_concurrent"]) == (3, 3, 3)
    h2 = out[datetime(2024, 1, 1, 2)]
    assert h2["carry_in"] == 0 and h2["max_concurrent"] == 1


def test_concurrency_carries_across_buckets(spark):
    t0 = datetime(2024, 1, 1)
    # one session spanning hours 0-3 (events every 20 min), plus a
    # second user active only in hour 2: its bucket sees carry_in 1
    rows = [(i, t0 + timedelta(minutes=20 * i), 1) for i in range(10)]
    rows += [(100, t0 + timedelta(hours=2, minutes=5), 2),
             (101, t0 + timedelta(hours=2, minutes=10), 2)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r["bucket"]: r for r in ts.concurrency(
        df, timedelta(minutes=30), "1 hour", "ts", "user_id", ["event_id"]
    ).collect()}
    h2 = out[datetime(2024, 1, 1, 2)]
    assert h2["carry_in"] == 1
    assert h2["max_concurrent"] == 2


def test_late_arrivals_planted_disorder(spark):
    t0 = datetime(2024, 1, 1)
    # arrival order (event_id) 0..4; event times: the third arrival is
    # 10 minutes OLDER than the second -> one late event
    offsets = [0, 20, 10, 30, 40]
    rows = [(i, t0 + timedelta(minutes=m), "k") for i, m in enumerate(offsets)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = ts.late_arrivals(df, "ts", ["event_type"], "event_id").collect()[0]
    assert (r["n"], r["n_late"]) == (5, 1)
    assert r["late_frac"] == 0.2
    assert r["max_late_us"] == 10 * 60 * 1_000_000
    assert r["avg_late_us"] == 10 * 60 * 1_000_000


def test_histogram_quantile_planted(spark):
    t0 = datetime(2024, 1, 1)
    # 100 values uniform over (0, 100]: quantiles land in predictable
    # power-of-two buckets with exact interpolation
    rows = [(i, t0 + timedelta(minutes=i), "k", float(i + 1)) for i in range(100)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["q"]: r for r in ts.histogram_quantile(
        df, (0.5, 0.9, 0.99), 20, "ts", ["event_type"]
    ).collect()}
    # rank(0.5) = 50: bucket le=64 (cum 64, prev cum 32 at le=32)
    # quantile = 32 + 32 * (50-32)/32 = 50.0 (uniform data: exact)
    assert out[0.5]["le_bucket"] == 64.0
    assert out[0.5]["quantile"] == 50.0
    # rank(0.9) = 90: bucket le=128 (cum 100, prev 64)
    # quantile = 64 + 64 * (90-64)/36
    assert out[0.9]["le_bucket"] == 128.0
    assert abs(out[0.9]["quantile"] - (64 + 64 * 26 / 36)) < 1e-6
    assert out[0.99]["total"] == 100


def test_histogram_quantile_inf_bucket_returns_lower_edge(spark):
    t0 = datetime(2024, 1, 1)
    # values above 2^max_exp land in +Inf; q=0.99 must return the
    # highest finite edge, not Inf/NaN
    rows = [(i, t0 + timedelta(minutes=i), "k", 5_000_000.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.histogram_quantile(df, (0.99,), 20, "ts", ["event_type"]).collect()[0]
    assert r["le_bucket"] == float("inf")
    assert r["quantile"] == 1048576.0


def test_buckets_squared_guards_fire(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(30):  # both series present in every minute bucket
        rows.append((2 * i, t0 + timedelta(minutes=i), "a", float(i)))
        rows.append((2 * i + 1, t0 + timedelta(minutes=i), "b", float(i) / 2))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    # 30 minute-buckets per key vs a 10-bucket cap: the pair space
    # would be buckets^2 — the guard must fail the job loudly
    with pytest.raises(Exception, match="theil_sen_trend.*buckets"):
        ts.theil_sen_trend(
            df, "1 minute", "ts", ["event_type"], max_buckets=10
        ).collect()
    with pytest.raises(Exception, match="corr_matrix.*buckets"):
        ts.corr_matrix(
            df, "1 minute", "ts", "event_type", max_buckets=10
        ).collect()
    with pytest.raises(Exception, match="dtw_distance.*buckets"):
        ts.dtw_distance(
            df, "a", "b", "1 minute", "ts", max_buckets=10
        ).collect()
    # and at the default cap all three still compute
    assert ts.theil_sen_trend(df, "1 minute", "ts", ["event_type"]).count() == 2
    assert ts.dtw_distance(df, "a", "b", "1 minute", "ts").count() == 1


def test_fixed_rounds_guards_fire(spark):
    """rounds is PLAN DEPTH in the fixed-round iterative ops (r11
    verdict #4): the guard must reject pathological depths loudly at
    call time, before a 2000-window plan reaches the analyzer."""
    from fossil_spark.operators.graph import kcore, label_propagation

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + timedelta(minutes=i), "a", float(i)) for i in range(5)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    with pytest.raises(ValueError, match="sigma_clip.*rounds=13"):
        ts.sigma_clip(df, rounds=13, time_col="ts")
    with pytest.raises(ValueError, match="sigma_clip.*rounds=0"):
        ts.sigma_clip(df, rounds=0, time_col="ts")
    pairs = spark.createDataFrame(
        [(1, 2)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="kcore.*rounds=99"):
        kcore(pairs, n_rounds=99)
    seeds = spark.createDataFrame([(1, "x")], "doc_id long, label string")
    with pytest.raises(ValueError, match="label_propagation.*rounds=99"):
        label_propagation(pairs, seeds, n_rounds=99)
    # a sane depth still computes (one row per key)
    assert ts.sigma_clip(df, rounds=1, time_col="ts", by=["event_type"]).count() == 1
    # the escape hatch: a deliberate deeper run raises max_rounds
    # alongside rounds and the guard lets it through (r12 ADVICE —
    # rounds>12 must stay reachable, just never by accident)
    assert kcore(pairs, k=1, n_rounds=13, max_rounds=13).count() == 2
    with pytest.raises(ValueError, match="kcore.*rounds=14"):
        kcore(pairs, k=1, n_rounds=14, max_rounds=13)


def test_histogram_quantile_sparse_buckets_use_schema_edge(spark):
    t0 = datetime(2024, 1, 1)
    # counts at le=2 and le=16 ONLY (buckets 4 and 8 empty): the
    # Prometheus rule interpolates from the schema-adjacent bound 8
    # (= 16/2), not from the previous non-empty bucket's edge 2
    vals = [1.5, 2.0, 12.0]
    rows = [(i, t0 + timedelta(minutes=i), "k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.histogram_quantile(df, (0.9,), 20, "ts", ["event_type"]).collect()[0]
    assert r["le_bucket"] == 16.0
    # rank = 0.9*3 = 2.7; prev cum = 2 -> 8 + (16-8)*(2.7-2)/1 = 13.6
    assert abs(r["quantile"] - 13.6) < 1e-6


def test_quantile_sketch_audit_contract(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(minutes=i), "k", float(i)) for i in range(200)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["q"]: r for r in ts.quantile_sketch_audit(
        df, (0.5, 0.99), 1000, "ts", ["event_type"]
    ).collect()}
    # exact nearest-rank on 0..199: ceil(0.5*200)=100 -> value 99.0
    assert out[0.5]["exact_value"] == 99.0
    assert out[0.99]["exact_value"] == 197.0
    assert out[0.5]["within_guarantee"] and out[0.99]["within_guarantee"]
    assert out[0.5]["n"] == 200


def test_quantile_sketch_audit_ignores_nulls(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(minutes=i), "k", float(i)) for i in range(200)]
    # NULLs sort FIRST in Spark windows but are excluded from
    # count(value): without the filter the rank lands on shifted rows
    rows += [(200 + i, t0 + timedelta(minutes=200 + i), "k", None)
             for i in range(50)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {r["q"]: r for r in ts.quantile_sketch_audit(
        df, (0.5, 0.99), 1000, "ts", ["event_type"]
    ).collect()}
    assert out[0.5]["n"] == 200
    assert out[0.5]["exact_value"] == 99.0
    assert out[0.99]["exact_value"] == 197.0


def test_range_audit_planted_violations(spark):
    t0 = datetime(2024, 1, 1)
    vals = [10.0, -3.0, 50.0, 200.0, 300.0]
    rows = [(i, t0 + timedelta(minutes=i), "k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    r = ts.range_audit(df, 0.0, 100.0, "ts", ["event_type"]).collect()[0]
    assert (r["n"], r["n_below"], r["n_above"]) == (5, 1, 2)
    assert r["violation_frac"] == 0.6
    assert r["first_violation_ts"] == t0 + timedelta(minutes=1)
    assert r["last_violation_ts"] == t0 + timedelta(minutes=4)


def test_ewma_control_alarms_on_shift(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(hours=i), "k", 1.0 if i % 2 else -1.0)
            for i in range(60)]
    rows += [(60 + i, t0 + timedelta(hours=60 + i), "k", 8.0)
             for i in range(20)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = sorted(ts.ewma_control(df, 0.3, 3.0, "1 hour", "ts", ["event_type"]).collect(),
                 key=lambda r: r["bucket"])
    assert len(out) == 80
    assert not any(r["alarm"] for r in out[:60])
    assert any(r["alarm"] for r in out[60:])
    for r in out:
        assert r["lcl"] < r["center"] < r["ucl"]


def test_availability_longest_run(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 10 hourly buckets; hours 3,4,5 are outages (all errors), rest ok
    for h in range(10):
        kind = "error" if h in (3, 4, 5) else "view"
        for i in range(4):
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), 1, kind, 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    r = ts.availability(df, 0.5, "1 hour", "ts").collect()[0]
    assert (r["n_buckets"], r["n_down"], r["longest_down_run"]) == (10, 3, 3)
    assert r["availability"] == 0.7


def test_availability_counts_empty_buckets_as_down(spark):
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # a TOTAL outage emits zero rows: hours 3,4,5 have no events at
    # all. The densified grid must count them down and keep the
    # 3-bucket run intact (observed-only would report 100% uptime)
    for h in range(10):
        if h in (3, 4, 5):
            continue
        for i in range(4):
            rows.append((eid, t0 + timedelta(hours=h, minutes=i), 1, "view", 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    r = ts.availability(df, 0.5, "1 hour", "ts").collect()[0]
    assert (r["n_buckets"], r["n_down"], r["longest_down_run"]) == (10, 3, 3)
    assert r["availability"] == 0.7


def test_matrix_profile_finds_motifs_and_discord(spark):
    """A period-12 series has an exact non-overlapping copy of every
    window (mp ~ 0 after z-norm); windows overlapping an injected
    anomaly burst are the profile maxima (the discord); neighbor
    indices respect the exclusion zone."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import matrix_profile

    base = [10, 12, 15, 19, 24, 30, 24, 19, 15, 12, 10, 9]
    vals = [float(base[i % 12]) for i in range(96)]
    for i in range(48, 54):  # anomaly burst breaks the period
        vals[i] = 95.0 + (i % 3)
    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + timedelta(hours=i), "/m", vals[i]) for i in range(96)],
        "time timestamp, topic string, value double",
    )
    out = matrix_profile(
        df, w=12, every="1 hour", time_col="time", by=["topic"]
    ).collect()
    assert len(out) == 96 - 12 + 1
    by_idx = {r["idx"]: r for r in out}
    # motif: a clean periodic window far from the burst has a
    # near-zero profile (its exact copy one period away)
    assert by_idx[0]["mp"] < 1e-4
    # discord: the global max sits on a window overlapping the burst
    worst = max(out, key=lambda r: r["mp"])
    assert 48 - 12 < worst["idx"] < 54, worst
    for r in out:
        assert r["mp_idx"] is not None, r  # clean failure over TypeError
        assert abs(r["mp_idx"] - r["idx"]) >= 6


def test_matrix_profile_affine_invariant(spark):
    """z-normalization makes the profile invariant to positive affine
    transforms of the series (value*a + b): same mp values (round@6
    absorbs float wiggle), same neighbor indices."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import matrix_profile

    t0 = datetime(2024, 1, 1)
    vals = [float((i * 37 % 23) + (i % 5)) for i in range(60)]
    rows = [(t0 + timedelta(hours=i), "/m", vals[i]) for i in range(60)]
    df1 = spark.createDataFrame(
        rows, "time timestamp, topic string, value double"
    )
    df2 = spark.createDataFrame(
        [(t, k, v * 3.0 + 100.0) for t, k, v in rows],
        "time timestamp, topic string, value double",
    )
    mp1 = {r["idx"]: (r["mp"], r["mp_idx"]) for r in matrix_profile(
        df1, w=12, every="1 hour", time_col="time", by=["topic"]).collect()}
    mp2 = {r["idx"]: (r["mp"], r["mp_idx"]) for r in matrix_profile(
        df2, w=12, every="1 hour", time_col="time", by=["topic"]).collect()}
    assert mp1.keys() == mp2.keys()
    for i in mp1:
        assert mp1[i][1] == mp2[i][1], i  # same neighbor
        assert abs(mp1[i][0] - mp2[i][0]) < 1e-5, i


def test_matrix_profile_drops_null_values(spark):
    """An all-NULL bucket must vanish from the series, not inject a
    NULL mean that poisons every distance fold touching it (the
    review-confirmed divergence: Spark's fold kept the sentinel while
    the oracle's min sorted [NULL, j] by j)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import matrix_profile

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = None if i == 15 else float((i * 7) % 11 + 1)
        rows.append((t0 + timedelta(hours=2 * i), "/m", v))
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double"
    )
    out = matrix_profile(
        df, w=12, every="2 hours", time_col="time", by=["topic"]
    ).collect()
    # 29 non-NULL buckets -> 29 - 12 + 1 subsequences, all scored
    assert len(out) == 18
    for r in out:
        assert r["mp"] is not None and r["mp_idx"] is not None, r


def _matrix_profile_hof(df, w=12, every="2 hours", time_col="time",
                        by=None, value_col="value"):
    """Reference matrix profile as pure nested higher-order JVM
    expressions (sequence/aggregate/slice) over matrix_profile's own
    bucketing: the engine the numpy grid replaced, kept as the
    bit-identity reference. Every fold is a sequential left-to-right
    IEEE sum and the neighbor is a strict-< min fold (earliest
    neighbor on ties)."""
    by = by or []
    df = ts._time_norm(df, time_col)
    b = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.window(F.col(time_col), every).start.alias("bucket"), *by)
        .agg(ts._dec_avg(value_col).alias("__v"))
    )
    excl = max(1, w // 2)
    arr = (
        b.groupBy(*by)
        .agg(F.array_sort(F.collect_list(F.struct("bucket", "__v"))).alias("__s"))
        .select(
            *by,
            F.transform("__s", lambda s: s["bucket"]).alias("__bks"),
            F.transform("__s", lambda s: s["__v"]).alias("__vals"),
        )
        .withColumn("__nsub", F.size("__vals") - F.lit(w) + F.lit(1))
        .filter(F.col("__nsub") >= 1)
        .withColumn("__idx", F.sequence(F.lit(0), F.col("__nsub") - 1))
    )

    def win_sum(i):
        return F.aggregate(
            F.slice("__vals", i + 1, w), F.lit(0.0), lambda a, x: a + x
        )

    arr = arr.withColumn(
        "__mu", F.transform("__idx", lambda i: win_sum(i) / F.lit(float(w)))
    )

    def dev_sum(i):
        mu = F.element_at("__mu", i + 1)
        return F.aggregate(
            F.slice("__vals", i + 1, w), F.lit(0.0),
            lambda a, x: a + (x - mu) * (x - mu),
        )

    arr = arr.withColumn(
        "__sg",
        F.transform(
            "__idx",
            lambda i: F.greatest(
                F.sqrt(F.greatest(dev_sum(i) / F.lit(float(w)), F.lit(0.0))),
                F.lit(1e-12),
            ),
        ),
    )
    # the i-side (mu, sg, window) hoisted as per-row columns, the
    # j-side handed to the lambda as one arrays_zip struct
    rows = (
        arr.select(*by, "__bks", "__vals", "__mu", "__sg", "__nsub",
                   F.explode("__idx").alias("idx"))
        .withColumn("__mu_i", F.element_at("__mu", F.col("idx") + 1))
        .withColumn("__sg_i", F.element_at("__sg", F.col("idx") + 1))
        .withColumn("__win_i", F.slice("__vals", F.col("idx") + 1, w))
        .withColumn("__jseq", F.sequence(F.lit(0), F.col("__nsub") - 1))
        .withColumn("__jzip", F.arrays_zip("__mu", "__sg", "__jseq"))
    )

    def znd2(s):
        # z-normalized squared distance vs subsequence s, folded
        # acc + t*t from 0.0
        return F.aggregate(
            F.zip_with(
                F.col("__win_i"),
                F.slice("__vals", s["__jseq"] + 1, F.lit(w)),
                lambda a, b: (a - F.col("__mu_i")) / F.col("__sg_i")
                - (b - s["__mu"]) / s["__sg"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t * t,
        )

    i = F.col("idx")
    cands = F.transform(
        "__jzip",
        lambda s: F.when(
            F.abs(s["__jseq"] - i) < F.lit(excl),
            F.array(F.lit(1e308), F.lit(-1.0)),
        ).otherwise(F.array(znd2(s), s["__jseq"].cast("double"))),
    )
    best = F.aggregate(
        cands,
        F.array(F.lit(1e308), F.lit(-1.0)),
        lambda acc, c: F.when(
            F.element_at(c, 1) < F.element_at(acc, 1), c
        ).otherwise(acc),
    )
    return rows.withColumn("__best", best).select(
        *by,
        F.col("idx").cast("long").alias("idx"),
        F.element_at("__bks", i + 1).alias("bucket"),
        F.when(
            F.element_at("__best", 2) >= 0,
            F.round(F.sqrt(F.element_at("__best", 1)), 6),
        ).alias("mp"),
        F.when(
            F.element_at("__best", 2) >= 0,
            F.element_at("__best", 2).cast("long"),
        ).alias("mp_idx"),
    )


def test_matrix_profile_arrow_engine_bit_identical(spark):
    """The numpy grid must reproduce the nested-HOF JVM grid
    BIT-FOR-BIT (r9 verdict #3): same IEEE fold order via explicit
    k-loops, same strict-< earliest-neighbor tie rule, same round@6 —
    on both a real multi-key feed and a synthetic dense series."""
    from fossil_spark.operators.timeseries import matrix_profile
    from fossil_spark.session import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    kw = dict(w=12, every="2 hours", time_col="ts",
              by=["event_type"], value_col="value")
    hof = sorted(map(tuple, _matrix_profile_hof(ev, **kw).collect()))
    arw = sorted(map(tuple, matrix_profile(ev, **kw).collect()))
    assert len(hof) > 100
    assert hof == arw
    # dense synthetic grid, no by-keys (one group)
    n = 512
    df = spark.range(n).select(
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(mins=F.col("id"))).alias("time"),
        (F.sin(F.col("id").cast("double") / 7.0) * 10
         + F.col("id").cast("double") % 5).alias("value"))
    h2 = sorted(map(tuple, _matrix_profile_hof(
        df, w=12, every="1 minute").collect()))
    a2 = sorted(map(tuple, matrix_profile(
        df, w=12, every="1 minute").collect()))
    assert h2 == a2 and len(h2) == n - 11


def test_matrix_profile_arrow_grid_and_guard(spark):
    """One engine: the numpy grid behind the per-key Arrow boundary,
    with no by-keys as one group; the bucket guard fails loudly at
    `max_buckets` (default 65536, which admits 1100 buckets)."""
    import pytest

    from fossil_spark.operators.timeseries import matrix_profile

    n = 1100
    df = spark.range(n).select(
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(mins=F.col("id"))).alias("time"),
        F.col("id").cast("double").alias("value"))
    small = matrix_profile(df.limit(100), w=12, every="1 minute")
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    with pytest.raises(Exception, match="more than 1024 buckets"):
        matrix_profile(df, w=12, every="1 minute", max_buckets=1024).count()
    dense = matrix_profile(df, w=12, every="1 minute")
    assert dense.count() == n - 11
    with pytest.raises(TypeError, match="engine"):
        matrix_profile(df, engine="arrow")


def test_runs_test_known_answer(spark):
    """Hand-computed Wald-Wolfowitz: values 1,2,3,2,3,2 give signs
    + + - + - (n=5, n+=3, n-=2), runs [++][-][+][-] = 4,
    mu = 2*3*2/5 + 1 = 3.4, var = 2.4*1.4/4 = 0.84,
    z = 0.6/sqrt(0.84) = 0.654654."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import runs_test

    t0 = datetime(2024, 1, 1)
    vals = [1.0, 2.0, 3.0, 2.0, 3.0, 2.0]
    df = spark.createDataFrame(
        [(t0 + timedelta(hours=i), "/m", v) for i, v in enumerate(vals)],
        "time timestamp, topic string, value double",
    )
    r = runs_test(df, by=["topic"]).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["n_signs"], row["n_plus"], row["n_minus"], row["n_runs"]) \
        == (5, 3, 2, 4)
    assert row["expected_runs"] == 3.4
    assert abs(row["z_stat"] - 0.654654) < 1e-6
    # zero diffs drop; monotone series (n_minus < 2) is omitted
    flat = spark.createDataFrame(
        [(t0 + timedelta(hours=i), "/f", float(i)) for i in range(10)],
        "time timestamp, topic string, value double",
    )
    assert runs_test(flat, by=["topic"]).count() == 0


def test_variance_ratio_alternating_series(spark):
    """An alternating 0/1 series: 1-step diffs are ±1 (population
    var = 1), every even-step diff is 0 — VR collapses to 0 at all
    q in {2,4,8}."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import variance_ratio

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + timedelta(hours=i), "/m", float(i % 2)) for i in range(64)],
        "time timestamp, topic string, value double",
    )
    out = {r["q"]: r for r in variance_ratio(
        df, every="1 hour", by=["topic"]).collect()}
    assert set(out) == {2, 4, 8}
    for q, r in out.items():
        # 63 diffs split 32/31 between +1/-1: mean = 1/63, so the
        # population var is exactly 1 - (1/63)^2 = 0.999748
        assert abs(r["var_1"] - 0.999748) < 1e-6
        assert r["var_q"] == 0.0
        assert r["vr"] == 0.0


def test_hurst_exponent_trend_vs_oscillation(spark):
    """A pure linear trend is maximally persistent (R/S grows ~n,
    H near 1); a fast oscillation is anti-persistent (H near 0); and
    R/S is affine-invariant (scale+shift leaves H unchanged)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import hurst_exponent

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(256):
        rows.append((t0 + timedelta(hours=i), "/trend", float(i)))
        rows.append((t0 + timedelta(hours=i), "/osc", float(i % 2)))
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["topic"]: r for r in hurst_exponent(
        df, every="1 hour", by=["topic"]).collect()}
    assert out["/trend"]["n_scales"] == 4
    assert out["/trend"]["hurst"] > 0.9
    # a pure alternation has constant R/S = 1 at every scale: H = 0
    assert abs(out["/osc"]["hurst"]) < 0.05
    df2 = df.withColumn("value", F.col("value") * 7.0 + 1000.0)
    out2 = {r["topic"]: r for r in hurst_exponent(
        df2, every="1 hour", by=["topic"]).collect()}
    for k in out:
        assert abs(out[k]["hurst"] - out2[k]["hurst"]) < 1e-4, k


# --- Page-Hinkley drift detector ---------------------------------------------

def test_page_hinkley_planted_shift(spark):
    """A clean level shift halfway through must alarm (PH grows once
    the running mean lags the new level); a flatline key carries no
    signal and is excluded (sigma = 0, the cusum convention)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import page_hinkley

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        rows.append((t0 + timedelta(hours=i), "/shift",
                     0.0 if i < 30 else 10.0))
        rows.append((t0 + timedelta(hours=i), "/flat", 5.0))
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["topic"]: r for r in page_hinkley(
        df, delta=0.05, lambda_=5.0, every="1 hour",
        by=["topic"]).collect()}
    assert "/flat" not in out
    r = out["/shift"]
    assert r["n_buckets"] == 60
    assert r["max_ph"] > 5.0 and r["n_alarms"] > 0
    # the alarm must fire after the shift point, never before
    assert r["first_alarm"] >= t0 + timedelta(hours=30)


def test_page_hinkley_no_drift_quiet(spark):
    """A stationary alternation never accumulates: PH stays near 0 and
    no alarm fires."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import page_hinkley

    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(hours=i), "/osc", float(i % 2))
            for i in range(80)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    r = page_hinkley(df, every="1 hour", by=["topic"]).collect()[0]
    assert r["n_alarms"] == 0 and r["max_ph"] < 2.0


# --- permutation entropy ------------------------------------------------------

def test_permutation_entropy_extremes(spark):
    """Monotone -> a single ordinal pattern, H = 0; a period-2
    alternation -> exactly two patterns in equal measure, H = ln 2."""
    import math
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import permutation_entropy

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(62):
        rows.append((t0 + timedelta(hours=i), "/mono", float(i)))
        rows.append((t0 + timedelta(hours=i), "/alt", float(i % 2)))
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["topic"]: r for r in permutation_entropy(
        df, every="1 hour", by=["topic"]).collect()}
    assert out["/mono"]["n_patterns"] == 1
    assert out["/mono"]["h"] == 0.0 and out["/mono"]["h_norm"] == 0.0
    assert out["/alt"]["n_patterns"] == 2
    assert out["/alt"]["h"] == pytest.approx(math.log(2.0), abs=1e-5)
    assert out["/alt"]["h_norm"] == pytest.approx(
        math.log(2.0) / math.log(6.0), abs=1e-5)


# --- Dickey-Fuller test --------------------------------------------------------

def test_adf_closed_form_matches_python(spark):
    """The t-stat must equal the closed-form OLS replayed in Python on
    the same bucket means; a mean-reverting alternation rejects the
    unit root."""
    import math
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import adf_test

    vals = [5.0, 6.0, 5.0, 7.0, 5.0, 6.0, 5.0, 8.0, 5.0, 6.0, 5.0, 7.0]
    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(hours=i), "/k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    r = adf_test(df, every="1 hour", by=["topic"]).collect()[0]
    x = vals[:-1]
    y = [b - a for a, b in zip(vals[:-1], vals[1:])]
    n = len(x)
    sx, sy = sum(x), sum(y)
    sxy = sum(a * b for a, b in zip(x, y))
    sxx = sum(a * a for a in x)
    syy = sum(b * b for b in y)
    cxx = n * sxx - sx * sx
    cxy = n * sxy - sx * sy
    cyy = n * syy - sy * sy
    beta = cxy / cxx
    t = beta * math.sqrt(cxx * (n - 2) / (cyy - beta * cxy))
    assert r["n"] == n
    assert r["beta"] == pytest.approx(beta, abs=1e-5)
    assert r["t_stat"] == pytest.approx(t, abs=1e-4)
    assert r["stationary_95"] == (t < -2.86)


# --- Granger causality ---------------------------------------------------------

def test_granger_planted_direction(spark):
    """b follows a with one bucket of lag (plus a small fixed wiggle):
    a->b must dominate b->a and clear the 5% bar."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import granger_lag1

    t0 = datetime(2024, 1, 1)
    a_vals = [float(v) for v in (1, 5, 2, 7, 3, 8, 1, 6, 2, 9, 4, 7,
                                 1, 5, 3, 8, 2, 6, 1, 7, 3, 9, 2, 5)]
    rows = []
    for i, av in enumerate(a_vals):
        rows.append((t0 + timedelta(hours=i), "A", av))
        prev = a_vals[i - 1] if i else 3.0
        rows.append((t0 + timedelta(hours=i), "B",
                     0.9 * prev + 0.01 * (i % 3)))
    df = spark.createDataFrame(
        rows, "time timestamp, event_type string, value double")
    out = {(r["cause"], r["effect"]): r for r in granger_lag1(
        df, "A", "B", every="1 hour").collect()}
    fwd = out[("A", "B")]
    rev = out[("B", "A")]
    assert fwd["n"] == rev["n"] == len(a_vals) - 1
    assert fwd["f_stat"] > 100 and fwd["significant_95"]
    assert fwd["f_stat"] > 10 * max(rev["f_stat"], 1.0)


def test_granger_short_series_null_f(spark):
    """n = 3 lagged rows leaves no residual df: f_stat must be NULL
    (matching the oracle's nd > 3 guard), not a crash (review
    regression)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import granger_lag1

    t0 = datetime(2024, 1, 1)
    rows = []
    for i, v in enumerate((1.0, 5.0, 2.0, 7.0)):
        rows.append((t0 + timedelta(hours=i), "A", v))
        rows.append((t0 + timedelta(hours=i), "B", v + 1.0))
    df = spark.createDataFrame(
        rows, "time timestamp, event_type string, value double")
    out = granger_lag1(df, "A", "B", every="1 hour").collect()
    assert len(out) == 2
    for r in out:
        assert r["n"] == 3 and r["f_stat"] is None


def test_granger_series_name_with_separator(spark):
    """cause/effect labels must carry the literal series names even
    when a name contains '>' (review regression for the old
    string-round-trip)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import granger_lag1

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(12):
        rows.append((t0 + timedelta(hours=i), "a>b", float(i % 5)))
        rows.append((t0 + timedelta(hours=i), "x", float((i + 1) % 4)))
    df = spark.createDataFrame(
        rows, "time timestamp, event_type string, value double")
    out = {(r["cause"], r["effect"]) for r in
           granger_lag1(df, "a>b", "x", every="1 hour").collect()}
    assert out == {("a>b", "x"), ("x", "a>b")}


def test_theta_forecast_matches_python_replica(spark):
    """Exact replay: OLS on an exactly linear series recovers (a, b)
    precisely (integer-valued sums), the theta=2 line collapses to the
    series itself, and the SES fold + combination match a pure-Python
    replica step for step."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import theta_forecast

    t0 = datetime(2024, 1, 1)
    n = 12
    vals = [3.0 + 2.0 * t for t in range(1, n + 1)]
    rows = [(t0 + timedelta(hours=i), "/k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["step"]: r for r in theta_forecast(
        df, horizon=3, alpha=0.5, by=["topic"]).collect()}
    assert out[1]["slope"] == 2.0
    s = vals[0]
    for v in vals[1:]:
        s = 0.5 * v + 0.5 * s
    assert out[1]["ses_level"] == s
    for h in (1, 2, 3):
        assert out[h]["forecast"] == 0.5 * s + 0.5 * (
            3.0 + 2.0 * (n + h))


def test_theta_forecast_short_series_excluded(spark):
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import theta_forecast

    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(hours=i), "/short", float(i)) for i in range(2)]
    rows += [(t0 + timedelta(hours=i), "/long", float(i)) for i in range(6)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = theta_forecast(df, horizon=2, by=["topic"]).collect()
    assert {r["topic"] for r in out} == {"/long"}


def test_kalman_level_matches_python_replica(spark):
    """Exact replay of the predict/gain/update fold, plus the two
    structural facts: the gain converges to the q/r fixed point and a
    constant series filters to itself with zero innovation RMSE."""
    import math
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import kalman_level

    t0 = datetime(2024, 1, 1)
    vals = [5.0, 7.0, 4.0, 9.0, 6.0, 8.0, 5.0, 7.5, 6.5, 7.0]
    rows = [(t0 + timedelta(hours=i), "/k", v) for i, v in enumerate(vals)]
    rows += [(t0 + timedelta(hours=i), "/flat", 3.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["topic"]: r for r in kalman_level(
        df, q_noise=0.01, r_noise=1.0, every="1 hour",
        by=["topic"]).collect()}
    lvl, p, k, acc = vals[0], 1.0, 0.0, 0.0
    for v in vals[1:]:
        p += 0.01
        k = p / (p + 1.0)
        innov = v - lvl
        acc += innov * innov
        lvl += k * innov
        p = (1.0 - k) * p
    r = out["/k"]
    assert r["n_buckets"] == 10
    assert r["level"] == pytest.approx(lvl, abs=1e-6)
    assert r["gain"] == pytest.approx(k, abs=1e-6)
    assert r["innovation_rmse"] == pytest.approx(
        math.sqrt(acc / 9.0), abs=1e-6)
    # steady-state gain for q=0.01, r=1: k* = (q + sqrt(q^2+4qr)) / ...
    # here just the structural facts
    assert out["/flat"]["level"] == 3.0
    assert out["/flat"]["innovation_rmse"] == 0.0


def test_sigma_clip_iterative_catches_shadowed_outlier(spark):
    """A gross outlier inflates round-1 sigma enough to shadow a
    moderate one; the iteration must clip BOTH, and the clean stats
    must match a Python replica of the same rounds."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import sigma_clip

    t0 = datetime(2024, 1, 1)
    base = [5.0, 5.2, 4.8, 5.1, 4.9, 5.0, 5.05, 4.95] * 5  # 40 pts
    vals = base + [1000.0, 25.0]
    rows = [(t0 + timedelta(hours=i), "/k", v) for i, v in enumerate(vals)]
    rows += [(t0 + timedelta(hours=i), "/flat", 7.0) for i in range(12)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["topic"]: r for r in sigma_clip(
        df, n_sigma=3.0, rounds=5, every="1 hour", by=["topic"]).collect()}
    r = out["/k"]
    assert r["n_buckets"] == 42
    assert r["n_clipped"] == 2  # the 1000 AND the shadowed 25
    # clean stats ~ the base population
    assert 4.9 < r["clean_mean"] < 5.1
    assert r["clean_std"] < 0.2
    # flatline: sigma 0, |v - mu| = 0 <= 0 keeps everything
    assert out["/flat"]["n_clipped"] == 0
    assert out["/flat"]["clean_mean"] == 7.0
    assert out["/flat"]["clean_std"] == 0.0


def test_sigma_clip_one_round_misses_shadowed(spark):
    """Sanity on the iteration's value: with rounds=1 the shadowed
    moderate outlier survives (sigma still inflated by the gross one
    in the only pass)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import sigma_clip

    t0 = datetime(2024, 1, 1)
    base = [5.0, 5.2, 4.8, 5.1, 4.9, 5.0, 5.05, 4.95] * 5
    vals = base + [1000.0, 25.0]
    rows = [(t0 + timedelta(hours=i), "/k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    r = sigma_clip(df, rounds=1, every="1 hour", by=["topic"]).collect()[0]
    assert r["n_clipped"] == 1


def test_sigma_clip_fully_clipped_key_reported(spark):
    """n_sigma < 1 can clip every bucket (no Chebyshev floor): the key
    must surface as fully clipped with NULL clean stats, not vanish
    (review regression: the old inner join erased it)."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import sigma_clip

    t0 = datetime(2024, 1, 1)
    rows = [(t0, "/k", 1.0), (t0 + timedelta(hours=1), "/k", 3.0)]
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = sigma_clip(df, n_sigma=0.5, rounds=3, every="1 hour",
                     by=["topic"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_buckets"] == 2 and r["n_clipped"] == 2
    assert r["clean_mean"] is None and r["clean_std"] is None


def test_record_stats_monotone_vs_alternating(spark):
    """A strictly increasing series: EVERY bucket is a record high,
    only the first a record low; an alternation of two values: 2
    highs, 2 lows (strict comparisons — ties never count); H_n
    matches the exact harmonic sum."""
    from datetime import datetime, timedelta

    from fossil_spark.operators.timeseries import record_stats

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        rows.append((t0 + timedelta(hours=i), "/up", float(i)))
        rows.append((t0 + timedelta(hours=i), "/alt", float(i % 2)))
    df = spark.createDataFrame(
        rows, "time timestamp, topic string, value double")
    out = {r["topic"]: r for r in record_stats(
        df, every="1 hour", by=["topic"]).collect()}
    up = out["/up"]
    assert up["n_record_highs"] == 20 and up["n_record_lows"] == 1
    h20 = sum(1.0 / i for i in range(1, 21))
    assert up["expected_records"] == pytest.approx(h20, abs=1e-6)
    assert up["high_excess"] == pytest.approx(20 - h20, abs=1e-6)
    alt = out["/alt"]
    # 0,1,0,1...: records = first 0 (high+low) and first 1 (high)
    assert alt["n_record_highs"] == 2 and alt["n_record_lows"] == 1
