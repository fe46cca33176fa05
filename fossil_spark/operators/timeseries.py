"""Time-series operators, Spark-first.

These extend the reference's query surface (fossil only has
filter/map/reduce + sample — docs/pipelines.md) with the analytics a
time-series engine needs at scale. Design rules:

- one shuffle per operator, keyed to partition work evenly;
- window functions over (key) partitions instead of self-joins;
- deterministic tiebreaks everywhere (a float result must not depend
  on partitioning or arrival order);
- float aggregation in decimal fixed point where a sum feeds output
  (order-independent, reproducible at any parallelism).
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql.functions import broadcast
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# the null-time rule: one bucket builder, one ordered-window builder
# ---------------------------------------------------------------------------
# Every time-series and analytics query orders and buckets rows through
# these two, and both follow DuckDB's defaults (the oracles' engine, and
# _per_key's pandas sort): a null time (any null order key) sorts LAST,
# and a null time falls in a null bucket, which groups as a bucket of
# its own.

def time_bucket(col: str | Column, every: str) -> Column:
    """Epoch-aligned start of the fixed-width `every` bucket holding
    `col` (DuckDB's time_bucket; equal to window(col, every).start on
    every non-null time, before 1970 too). Null in gives null out,
    where a groupBy over window() would drop the row."""
    u = F.unix_micros(F.col(col) if isinstance(col, str) else col)
    return F.timestamp_micros(u - F.pmod(u, F.lit(_interval_us(every))))


def _nulls_last(c: str | Column) -> Column:
    """`c` ascending with nulls last; a key already given a direction
    keeps it (a sort order's rendering names its null order)."""
    if isinstance(c, str):
        c = F.col(c)
    sort = str(c)
    if "NULLS FIRST" in sort:
        raise ValueError(f"nulls sort last in an ordered window: {sort}")
    return c if "NULLS LAST" in sort else c.asc_nulls_last()


def ordered(by, *order, rows: tuple | None = None,
            range: tuple | None = None) -> WindowSpec:
    """The window over `by` (a column or a list of them; none is one
    partition) ordered by `order`: a name or bare Column sorts
    ascending with nulls last, a descending key is written
    `F.col(c).desc_nulls_last()`. `rows`/`range` are (lo, hi) frame
    bounds, None meaning unbounded. With no order it is a plain
    partition window."""
    def bounds(lo, hi):
        return (Window.unboundedPreceding if lo is None else lo,
                Window.unboundedFollowing if hi is None else hi)

    by = [by] if isinstance(by, (str, Column)) else list(by or [])
    w = Window.partitionBy(*by)
    if order:
        w = w.orderBy(*[_nulls_last(c) for c in order])
    if rows is not None:
        w = w.rowsBetween(*bounds(*rows))
    if range is not None:
        w = w.rangeBetween(*bounds(*range))
    return w


def _dec_avg(col: str) -> Column:
    """Order-independent mean of a float column (decimal accumulate)."""
    return (
        F.round(F.sum(F.col(col).cast("decimal(30,8)")), 4).cast("double") / F.count(col)
    )


def round6_half_up(e: Column) -> Column:
    """Half-up rounding at 1e-6 via exact-IEEE floor — deterministic
    across engines at ANY magnitude, unlike round(x, 6) (Spark rounds
    the exact binary value via BigDecimal, DuckDB rounds in scaled
    double space; they diverge on ties and on values whose ulp
    exceeds 1e-6 — both caught live at sf0.001). Spark's floor()
    returns LONG and CLAMPS past 2^63, so magnitudes >= 9e12 (where a
    1e-6 target is sub-ulp noise anyway) pass through unrounded — the
    oracle side mirrors the same guard. Intended for non-negative
    statistics (gaps, deviations, NLLs); the floor form rounds
    half-toward-+inf, which equals half-up only for x >= 0."""
    return F.when(
        F.abs(e) < F.lit(9.0e12),
        F.floor(e * F.lit(1e6) + F.lit(0.5)).cast("double") / F.lit(1e6),
    ).otherwise(e)


def _time_norm(df: DataFrame, *time_cols: str) -> DataFrame:
    """Tolerate TIMESTAMP_NTZ time columns: cast to TIMESTAMP (identity
    on the instant under the engine's UTC session timezone). Driver
    parquet has shipped both TIMESTAMP(NANOS) and NTZ layouts; callers
    normally go through session.read_table, but every operator must
    also stand alone — unix_micros()/interval arithmetic reject NTZ."""
    from pyspark.sql.types import TimestampNTZType

    for c in time_cols:
        if isinstance(df.schema[c].dataType, TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _per_key(df: DataFrame, by: list[str], order: list[str], fn,
             schema) -> DataFrame:
    """The one pandas boundary of the sequential per-key operators:
    `fn` gets each `by` group (the whole frame as one group when `by`
    is empty) stable-sorted by `order` with nulls last — the order
    DuckDB's ORDER BY gives the oracles — with a fresh 0..n-1 index,
    and returns that group's rows in `schema`, or None for none."""
    import pandas as pd

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort", na_position="last")
        out = fn(pdf.reset_index(drop=True))
        return pd.DataFrame(columns=schema.names) if out is None else out

    return df.groupBy(*by).applyInPandas(run, schema)


# ---------------------------------------------------------------------------
# resample / rollup
# ---------------------------------------------------------------------------

def resample(
    df: DataFrame,
    every: str,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Bucket rows into fixed windows and aggregate the value column.

    `every` is a Spark interval string ("1 hour", "15 minutes").
    Windows are epoch-aligned (same as DuckDB's time_bucket). One
    shuffle on (bucket, *by); partial aggregation happens map-side.
    """
    by = by or []
    df = _time_norm(df, time_col)
    return (
        df.groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(
            F.count("*").alias("n"),
            _dec_avg(value_col).alias("avg_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )


# ---------------------------------------------------------------------------
# sliding-window statistics
# ---------------------------------------------------------------------------

def sliding_stats(
    df: DataFrame,
    n_preceding: int,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Rolling mean/min/max over the previous `n_preceding` rows plus
    the current one, per key, ordered by time (with an explicit
    tiebreak so results are partition-invariant)."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []), rows=(-n_preceding, 0))
    return df.select(
        *df.columns,
        (F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(w), 4).cast("double")
         / F.count(value_col).over(w)).alias("rolling_avg"),
        F.min(value_col).over(w).alias("rolling_min"),
        F.max(value_col).over(w).alias("rolling_max"),
    )


def sliding_time_stats(
    df: DataFrame,
    lookback: timedelta,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Rolling mean/min/max/count over a TIME window — every row
    preceding the current one by at most `lookback` (inclusive), per
    key. Unlike sliding_stats (row-count frame) this is a RANGE frame
    over integer microseconds, so irregular sampling is handled
    correctly: one shuffle on the key, no self-join."""
    by = by or []
    df = _time_norm(df, time_col)
    us = F.unix_micros(F.col(time_col))
    lb = int(lookback.total_seconds() * 1_000_000)
    w = ordered(by, us, range=(-lb, 0))
    return df.select(
        *df.columns,
        (F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(w), 4)
         .cast("double") / F.count(value_col).over(w)).alias("window_avg"),
        F.min(value_col).over(w).alias("window_min"),
        F.max(value_col).over(w).alias("window_max"),
        F.count(value_col).over(w).cast("long").alias("window_n"),
    )


def zscore(
    df: DataFrame,
    lookback: timedelta,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    round_to: int = 6,
) -> DataFrame:
    """Rolling z-score anomaly signal: (x - mean) / stddev over the
    trailing `lookback` time window per key (null until the window
    holds at least two points). Same single-shuffle RANGE frame as
    sliding_time_stats; population stddev from deterministic decimal
    sums so the score is bit-stable at any parallelism."""
    by = by or []
    df = _time_norm(df, time_col)
    us = F.unix_micros(F.col(time_col))
    lb = int(lookback.total_seconds() * 1_000_000)
    w = ordered(by, us, range=(-lb, 0))
    n = F.count(value_col).over(w)
    s1 = F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(w), 4).cast("double")
    s2 = F.round(
        F.sum((F.col(value_col) * F.col(value_col)).cast("decimal(30,8)")).over(w), 4
    ).cast("double")
    mean = s1 / n
    var = s2 / n - mean * mean
    z = F.when(
        (n >= 2) & (var > 0),
        F.round((F.col(value_col) - mean) / F.sqrt(var), round_to),
    )
    return df.select(*df.columns, z.alias("zscore"))


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    right_time <= left_time within the same key (left as-of join).

    Spark-first strategy: instead of a per-row range join (quadratic
    blowup) or a driver loop, tag both sides, union them, and take a
    running last-non-null over a single (key, time) sort — ONE shuffle
    keyed by `on`, linear work, no skew amplification. The right side
    must be unique per (key, time); pre-aggregate it if not.
    """
    left = _time_norm(left, left_time)
    right = _time_norm(right, right_time)
    lcols = [c for c in left.columns]
    l = left.select(*lcols, F.lit(1).alias("__side"))
    for v in right_values:
        l = l.withColumn(f"__r_{v}", F.lit(None).cast(right.schema[v].dataType))
    r = right.select(
        F.col(on),
        F.col(right_time).alias(left_time),
        F.lit(0).alias("__side"),
        *[F.col(v).alias(f"__r_{v}") for v in right_values],
    )
    for c in lcols:
        if c not in (on, left_time):
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l.unionByName(r)
    # right rows (__side=0) sort before left rows at equal time -> "<=" semantics;
    # a null left time sorts last but no right time is <= it, so it gets null
    w = ordered(on, left_time, "__side", rows=(None, 0))
    picked = [
        F.when(F.col(left_time).isNotNull(),
               F.last(F.col(f"__r_{v}"), ignorenulls=True).over(w)).alias(v)
        for v in right_values
    ]
    return (
        u.select(*lcols, F.col("__side"), *picked)
        .filter(F.col("__side") == 1)
        .drop("__side")
    )


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------

def sessionize(
    df: DataFrame,
    gap: timedelta,
    time_col: str = "time",
    by: list[str] | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    previous row (per key) exceeds `gap`. Returns per-session rollup:
    key, session_start, session_end, n_events."""
    by = by or []
    df = _time_norm(df, time_col)
    order = (time_col, *(order_tiebreak or []))
    w = ordered(by, *order)
    gap_us = int(gap.total_seconds() * 1_000_000)
    with_flag = df.withColumn(
        "__new_session",
        F.when(
            F.unix_micros(F.col(time_col))
            - F.unix_micros(F.lag(time_col).over(w))
            > F.lit(gap_us),
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    with_id = with_flag.withColumn(
        "session_seq",
        F.sum("__new_session").over(ordered(by, *order, rows=(None, 0))),
    )
    return (
        with_id.groupBy(*by, "session_seq")
        .agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# gap fill
# ---------------------------------------------------------------------------

def gapfill_locf(
    df: DataFrame,
    every: str,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Densify a series to regular buckets and fill missing buckets by
    carrying the last observation forward (per key).

    Distributed shape — segment generation, no join: aggregate to
    buckets, then each observed bucket emits itself PLUS the gap rows
    up to (exclusive) the next observed bucket via lead() + a
    sequence() explode. One shuffle for the groupBy; the window runs
    on the same (key) partitioning; the source is scanned ONCE (the
    former dense-spine + join-back shape re-executed the bucket
    aggregate for both join branches — AQE gave them no reused
    exchange). Buckets whose aggregate value is null (possible only if
    every source value in the bucket is null) are treated as gaps."""
    by = by or []
    df = _time_norm(df, time_col)
    bucketed = df.groupBy(time_bucket(time_col, every).alias("bucket"), *by).agg(
        _dec_avg(value_col).alias("value")
    ).filter(F.col("value").isNotNull())
    w = ordered(by, "bucket")
    interval = F.expr(f"INTERVAL {every}")
    # window expr first (a generator can't contain one), then explode
    stepped = bucketed.select(
        *by, "bucket", "value", F.lead("bucket").over(w).alias("__nxt")
    )
    seq = F.sequence(
        F.col("bucket"),
        F.coalesce(F.col("__nxt") - interval, F.col("bucket")),
        interval,
    )
    return (
        stepped.select(
            *by, F.col("bucket").alias("__b0"), "value",
            F.explode(seq).alias("bucket"),
        )
        .select(
            *by,
            F.col("bucket"),
            (F.col("bucket") == F.col("__b0")).alias("observed"),
            F.col("value"),
        )
    )


def gapfill_linear(
    df: DataFrame,
    every: str,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Densify to regular buckets and LINEARLY interpolate missing
    buckets between their neighboring observations (per key); no
    extrapolation past the first/last observation.

    Same single-scan segment-generation shape as gapfill_locf: lead()
    supplies the next observed (bucket, value), and each gap row's
    fill is pure per-row arithmetic on its position within the
    segment: v = v0 + (v1 - v0) * (pos - p0) / (p1 - p0)."""
    by = by or []
    df = _time_norm(df, time_col)
    bucketed = df.groupBy(time_bucket(time_col, every).alias("bucket"), *by).agg(
        _dec_avg(value_col).alias("value")
    ).filter(F.col("value").isNotNull())
    w = ordered(by, "bucket")
    interval = F.expr(f"INTERVAL {every}")
    # window exprs first (a generator can't contain one), then explode
    stepped = bucketed.select(
        *by,
        F.col("bucket").alias("__b0"),
        F.col("value").alias("__v0"),
        F.lead("bucket").over(w).alias("__b1"),
        F.lead("value").over(w).alias("__v1"),
    )
    seq = F.sequence(
        F.col("__b0"),
        F.coalesce(F.col("__b1") - interval, F.col("__b0")),
        interval,
    )
    ex = stepped.select(
        *by, "__b0", "__v0", "__b1", "__v1",
        F.explode(seq).alias("bucket"),
    )
    pos = F.unix_micros(F.col("bucket")).cast("double")
    p0 = F.unix_micros(F.col("__b0")).cast("double")
    p1 = F.unix_micros(F.col("__b1")).cast("double")
    frac = (pos - p0) / (p1 - p0)
    filled = (
        F.when(F.col("bucket") == F.col("__b0"), F.col("__v0"))
        .otherwise(F.round(F.col("__v0") + (F.col("__v1") - F.col("__v0")) * frac, 6))
    )
    return ex.select(
        *by,
        F.col("bucket"),
        (F.col("bucket") == F.col("__b0")).alias("observed"),
        filled.alias("value"),
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    time_col: str = "time",
    by: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: how many keys (users) reach each step,
    where step k counts only when it happens STRICTLY AFTER the
    earliest completion of step k-1 (classic product-analytics
    semantics).

    Scale shape: step 1's time is a windowed conditional min per key;
    each later step chains another conditional-min window over the
    SAME key partitioning — Spark executes all of them after ONE
    shuffle on the key, no joins, no per-step passes over the data.
    Output: (step_index, step, n_converted), n monotonically
    non-increasing."""
    df = _time_norm(df, time_col)
    w = ordered(by)
    out = df.select(by, time_col, type_col)
    prev = None
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if prev is not None:
            # a window expr can't nest in another window's aggregate:
            # chain projections instead — same partitioning, so all
            # the Window operators share one exchange
            cond = cond & (F.col(time_col) > F.col(prev))
        out = out.withColumn(
            f"__t{i}", F.min(F.when(cond, F.col(time_col))).over(w)
        )
        prev = f"__t{i}"
    per_key = out.groupBy(by).agg(
        *[F.max(f"__t{i}").alias(f"__t{i}") for i in range(len(steps))]
    )
    counts = per_key.agg(
        *[F.count(f"__t{i}").cast("long").alias(f"__n{i}")
          for i in range(len(steps))]
    )
    rows = F.array(*[
        F.struct(
            F.lit(i + 1).cast("long").alias("step_index"),
            F.lit(s).alias("step"),
            F.col(f"__n{i}").alias("n_converted"),
        )
        for i, s in enumerate(steps)
    ])
    return (
        counts.select(F.explode(rows).alias("r"))
        .select("r.step_index", "r.step", "r.n_converted")
    )


def retention(
    df: DataFrame,
    period: str = "1 week",
    time_col: str = "time",
    by: str = "user_id",
) -> DataFrame:
    """Cohort retention: keys cohorted by their first-activity period;
    for each (cohort, period-offset) the number of distinct keys
    active that period. The classic growth-analytics table.

    Scale shape: first-seen period is a windowed min over the key (so
    cohort assignment and activity share ONE shuffle on the key), then
    one distinct-aggregate on (cohort, offset) — two shuffles total,
    both map-side combined, no joins."""
    df = _time_norm(df, time_col)
    w = ordered(by)
    stamped = df.select(
        F.col(by), time_bucket(time_col, period).alias("__p")
    ).withColumn("__cohort", F.min("__p").over(w))
    offset = (
        (F.unix_micros(F.col("__p")) - F.unix_micros(F.col("__cohort")))
        / (F.unix_micros(F.col("__p") + F.expr(f"INTERVAL {period}"))
           - F.unix_micros(F.col("__p")))
    ).cast("long")
    return (
        stamped.select(F.col("__cohort").alias("cohort"),
                       offset.alias("period_offset"), F.col(by))
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct(by).cast("long").alias("n_active"))
    )


def downsample_m4(
    df: DataFrame,
    every: str,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """M4 visualization-oriented downsampling (Jugel et al., VLDB
    2014): per (key, bucket) keep first, last, min, and max — the four
    values that preserve a line chart's rendered shape at bucket
    resolution. ONE map-side-combined groupBy (struct-ordered min/max,
    deterministic tiebreaks); at 100 TB this reduces a series to
    4 points/pixel with a single shuffle."""
    by = by or []
    df = _time_norm(df, time_col)
    order = (time_col, *(tiebreak or []))
    t_struct = F.struct(*order, F.col(value_col).alias("__v"))
    v_struct = F.struct(F.col(value_col).alias("__v"), *order)
    return df.groupBy(time_bucket(time_col, every).alias("bucket"), *by).agg(
        F.min(t_struct).getField("__v").alias("v_first"),
        F.max(t_struct).getField("__v").alias("v_last"),
        F.min(v_struct).getField("__v").alias("v_min"),
        F.max(v_struct).getField("__v").alias("v_max"),
        F.min(v_struct).getField(time_col).alias("t_min"),
        F.max(v_struct).getField(time_col).alias("t_max"),
    )


def value_histogram(
    df: DataFrame,
    n_bins: int,
    lo: float,
    hi: float,
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width value histogram per key over [lo, hi): bin index is
    pure per-row arithmetic (floor of the scaled offset, top edge
    clamped into the last bin, out-of-range rows to bins -1 / n_bins),
    so the whole operator is ONE map-side-combined groupBy — the shape
    that survives any scale. Explicit bounds keep the binning
    deterministic and engine-portable; derive them beforehand with an
    agg if unknown."""
    by = by or []
    v = F.col(value_col)
    width = (hi - lo) / n_bins
    raw = F.floor((v - F.lit(lo)) / F.lit(width)).cast("long")
    bin_ = (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(n_bins))
        .otherwise(F.least(raw, F.lit(n_bins - 1)))
        .cast("long")
    )
    return (
        df.groupBy(*by, bin_.alias("bin"))
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# top-k per group / first-last / rate
# ---------------------------------------------------------------------------

def topk(
    df: DataFrame,
    k: int,
    by: list[str],
    order_col: str,
    ascending: bool = False,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per group. Window rank after AQE-coalesced shuffle;
    at scale this beats a global sort because each group sorts locally."""
    oc = order_col if ascending else F.col(order_col).desc_nulls_last()
    w = ordered(by, oc, *(tiebreak or []))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def first_last_by_bucket(
    df: DataFrame,
    every: str,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """First and last value per bucket per key (deterministic order)."""
    by = by or []
    df = _time_norm(df, time_col)
    struct = F.struct(time_col, *(tiebreak or []), F.col(value_col).alias("__v"))
    return (
        df.groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(
            F.min(struct).getField("__v").alias("first_value"),
            F.max(struct).getField("__v").alias("last_value"),
        )
    )


def rate(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-key delta of value over delta of time (units/second).
    Same-timestamp neighbors (dt = 0) yield a null rate instead of an
    ANSI division-by-zero error."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []))
    dt_us = F.unix_micros(F.col(time_col)) - F.unix_micros(F.lag(time_col).over(w))
    dv = F.col(value_col) - F.lag(value_col).over(w)
    return df.select(
        *df.columns,
        F.try_divide(dv, dt_us.cast("double") / F.lit(1e6)).alias("rate_per_sec"),
    )


def counter_rate(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Counter-RESET-aware rate (the Prometheus `rate()` semantics for
    monotone counters — the canonical TSDB workload the reference's
    metric topics hold): when the value drops, the counter restarted,
    and the increase since the reset is the current value itself (not
    the negative delta). increase = delta if delta >= 0 else value;
    rate = increase / dt. Same one-shuffle lag-window shape as
    rate(); first row per key is null. Returns every input row +
    (increase, rate_per_sec)."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []))
    dt_us = F.unix_micros(F.col(time_col)) - F.unix_micros(F.lag(time_col).over(w))
    dv = F.col(value_col) - F.lag(value_col).over(w)
    increase = F.when(dv.isNull(), F.lit(None).cast("double")).when(
        dv >= 0, dv
    ).otherwise(F.col(value_col))
    return df.select(
        *df.columns,
        increase.alias("increase"),
        # try_divide: same-timestamp neighbors (dt = 0, e.g. duplicate
        # scrapes) give a null rate, not an ANSI divide-by-zero error
        F.try_divide(increase, dt_us.cast("double") / F.lit(1e6)).alias(
            "rate_per_sec"
        ),
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str = "time",
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join points into containing intervals [lo, hi) WITHOUT an
    equi-key. A naive theta-join is O(|points| x |intervals|); instead
    each interval explodes into the fixed-width buckets it overlaps,
    points map to their bucket, and the join becomes an equi-join on
    bucket + an exact bounds filter. Cost: O(points) + O(intervals x
    span/bucket) — pick `bucket` near the median interval length.

    Intervals must carry no column named like points' columns except
    the bounds (rename first)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    points = _time_norm(points, point_time)
    intervals = _time_norm(intervals, lo_col, hi_col)
    interval_cols = list(intervals.columns)
    iv = intervals.withColumn(
        "__iv_bucket",
        F.explode(
            F.sequence(
                time_bucket(lo_col, bucket),
                # hi is exclusive: an interval ending exactly on a bucket
                # boundary does not overlap that bucket
                time_bucket(F.col(hi_col) - F.expr("INTERVAL 1 MICROSECOND"),
                         bucket),
                F.expr(f"INTERVAL {bucket}"),
            )
        ),
    )
    pt = points.withColumn("__pt_bucket", time_bucket(point_time, bucket))
    # The exact bounds ride ALONG the equi-join as a residual condition:
    # Catalyst extracts the bucket equality as the hash/sort-merge key and
    # evaluates the bounds per candidate pair. For how="left" this gives
    # exactly ONE null row per point contained in no interval — natively,
    # with a single join, no anti-join pass or re-evaluation of the
    # matched subtree (a point maps to exactly one bucket, so bucket
    # candidates never duplicate an interval for the same point).
    cond = (
        (pt["__pt_bucket"] == iv["__iv_bucket"])
        & (pt[point_time] >= iv[lo_col])
        & (pt[point_time] < iv[hi_col])
    )
    return (
        pt.join(iv, cond, how)
        .select(*[pt[c] for c in points.columns],
                *[iv[c] for c in interval_cols])
    )


def interval_coverage(
    df: DataFrame,
    time_col: str = "time",
    duration_col: str = "duration",
    by: list[str] | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Union-of-intervals coverage per key: merge overlapping
    [start, start + duration) intervals and report, per key, the
    interval count, the number of merged islands, and the total
    covered time — the scheduling/uptime/SLA primitive (equivalently
    the 1-D measure of a union of segments).

    Shape: the classic sweep, expressed as ONE window pass — the
    running max of prior interval ends over a (key, start) sort gives
    each row's overlap horizon; a row's marginal contribution is
    greatest(0, end - greatest(start, horizon)), and a row opens a
    new island iff start > horizon. One shuffle keys the window; the
    final per-key groupBy reuses that same hash partitioning (no
    second exchange). All arithmetic is integer microseconds —
    bit-exact at any parallelism. No self-join, no island re-shuffle:
    the textbook islands-and-gaps two-aggregation shape would shuffle
    again on (key, island); the marginal-contribution identity makes
    that pass unnecessary.

    `duration_col` is in seconds (float ok: truncated to whole
    microseconds, deterministically, before any arithmetic)."""
    by = by or []
    df = _time_norm(df, time_col)
    start = F.unix_micros(F.col(time_col))
    end = start + F.floor(F.col(duration_col) * F.lit(1e6)).cast("long")
    iv = df.select(
        *by, start.alias("__s"), end.alias("__e"),
        *[F.col(c) for c in (order_tiebreak or []) if c not in by],
    )
    w = ordered(by, "__s", "__e", *(order_tiebreak or []), rows=(None, -1))
    horizon = F.max("__e").over(w)
    marked = iv.select(
        *by,
        "__s",
        "__e",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("__e") - F.greatest(F.col("__s"), F.coalesce(horizon, F.col("__s"))),
        ).alias("__contrib"),
        F.when(horizon.isNull() | (F.col("__s") > horizon), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__opens"),
    )
    return marked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__opens").alias("n_islands"),
        F.sum("__contrib").alias("covered_us"),
    )


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_lo: str = "lo",
    left_hi: str = "hi",
    right_lo: str = "lo",
    right_hi: str = "hi",
    bucket: timedelta = timedelta(hours=1),
) -> DataFrame:
    """Interval x interval OVERLAP join on half-open [lo, hi) — the
    missing sibling of range_join (point-in-interval) and asof_join
    (nearest-before). A theta-join on `ls < re AND rs < le` is
    O(|L| x |R|) per key; instead BOTH sides explode into the
    fixed-width time buckets they span and the join becomes an
    equi-join on (keys, bucket) + the exact overlap residual. A pair
    sharing several buckets would match once per shared bucket, so
    exactly ONE survivor is kept: the pair's overlap START
    (greatest(ls, rs)) lies in exactly one bucket, and both sides'
    explosions contain that bucket — keep the match where the join
    bucket equals it. Cost: O(rows x span/bucket) + matches; pick
    `bucket` near the median interval length.

    Sides must share ONLY the `on` columns (rename first). Emits all
    left columns, all right columns, and `overlap_us` (exact integer
    microseconds, bit-stable at any parallelism)."""
    left = _time_norm(left, left_lo, left_hi)
    right = _time_norm(right, right_lo, right_hi)
    shared = (set(left.columns) & set(right.columns)) - set(on)
    if shared:
        raise ValueError(f"columns {sorted(shared)} appear on both sides; rename first")
    bucket_us = int(bucket.total_seconds() * 1_000_000)

    def prepped(df: DataFrame, lo: str, hi: str, bname: str) -> DataFrame:
        s = F.unix_micros(F.col(lo))
        e = F.unix_micros(F.col(hi))
        # EMPTY intervals (hi <= lo) are dropped: [s, s) intersects
        # nothing, but the raw predicate `ls < re AND rs < le` would
        # wrongly match it against any interval straddling s, and the
        # bucket sequence below would run descending
        df = df.filter(e > s)
        # hi exclusive: an interval ending ON a boundary does not span
        # that bucket, hence (e - 1)
        ids = F.sequence(
            F.floor(s / F.lit(bucket_us)), F.floor((e - 1) / F.lit(bucket_us))
        )
        return df.select(
            *df.columns, s.alias(f"__{bname}s"), e.alias(f"__{bname}e"),
            F.explode(ids).alias(f"__{bname}b"),
        )

    lv = prepped(left, left_lo, left_hi, "l").alias("__L")
    rv = prepped(right, right_lo, right_hi, "r").alias("__R")
    L, R = (lambda c: F.col(f"__L.{c}")), (lambda c: F.col(f"__R.{c}"))
    cond = L("__lb") == R("__rb")
    for k in on:
        cond &= L(k) == R(k)
    cond &= (L("__ls") < R("__re")) & (R("__rs") < L("__le"))
    # dedup: a pair sharing several buckets matches once per bucket;
    # keep only the match in the bucket holding the overlap start
    cond &= F.floor(F.greatest(L("__ls"), R("__rs")) / F.lit(bucket_us)) == L("__lb")
    right_only = [c for c in right.columns if c not in on]
    return lv.join(rv, cond, "inner").select(
        *[L(k) for k in on],
        *[L(c) for c in left.columns if c not in on],
        *[R(c) for c in right_only],
        (
            F.least(L("__le"), R("__re")) - F.greatest(L("__ls"), R("__rs"))
        ).alias("overlap_us"),
    )


def ohlc(
    df: DataFrame,
    every: str,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Open/high/low/close bars per bucket per key — one groupBy pass
    (open/close via struct-ordered min/max, high/low plain min/max)."""
    by = by or []
    df = _time_norm(df, time_col)
    struct = F.struct(time_col, *(tiebreak or []), F.col(value_col).alias("__v"))
    return (
        df.groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(
            F.min(struct).getField("__v").alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max(struct).getField("__v").alias("close"),
        )
    )


def ewma(
    df: DataFrame,
    alpha: float,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Exponentially-weighted moving average per key:
    y[0] = x[0]; y[t] = alpha*x[t] + (1-alpha)*y[t-1].

    Inherently sequential per key, so it runs as one Arrow batch per
    key group (_per_key) — parallel ACROSS keys, sequential
    within, which is the best possible shape for this recurrence.
    Within-group order is (time, tiebreak), nulls last."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    by = by or []
    df = _time_norm(df, time_col)
    sort_cols = [time_col] + (order_tiebreak or [])
    out_schema = StructType(df.schema.fields + [StructField("ewma", DoubleType())])

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["ewma"] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return _per_key(df, by, sort_cols, per_key, out_schema)


def holt_forecast(
    df: DataFrame,
    horizon: int = 5,
    alpha: float = 0.5,
    beta: float = 0.3,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Holt's linear-trend forecast per key (double exponential
    smoothing, Holt 1957): level and trend recurrences over the
    ordered series, then `horizon` steps ahead at level + h*trend.
    Init is exact (l0 = x0, b0 = x1 - x0), so a perfectly linear
    series forecasts its own continuation exactly.

    Like ewma, the recurrence is inherently sequential per key, so it
    runs as one Arrow batch per key group (_per_key) — parallel
    ACROSS keys, sequential within; the forecast fan-out is `horizon`
    rows per key, negligible against the input. Returns
    (*by, step, forecast, level, trend)."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    by = by or []
    df = _time_norm(df, time_col)
    sort_cols = [time_col] + (order_tiebreak or [])
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in by]
        + [
            StructField("step", LongType()),
            StructField("forecast", DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype=float)
        lvl = x[0]
        trd = x[1] - x[0] if len(x) > 1 else 0.0
        for t in range(1, len(x)):
            prev = lvl
            lvl = alpha * x[t] + (1 - alpha) * (lvl + trd)
            trd = beta * (lvl - prev) + (1 - beta) * trd
        rows = {
            "step": list(range(1, horizon + 1)),
            "forecast": [lvl + h * trd for h in range(1, horizon + 1)],
            "level": [lvl] * horizon,
            "trend": [trd] * horizon,
        }
        for c in by:
            rows[c] = [pdf[c].iloc[0]] * horizon
        return pd.DataFrame(rows)[[f.name for f in out_schema.fields]]

    return _per_key(df, by, sort_cols, per_key, out_schema)


def decompose_classical(
    df: DataFrame,
    period: int = 25,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Classical seasonal decomposition (the moving-average method
    behind statsmodels' seasonal_decompose): trend = centered moving
    average over `period` rows (null at the edges where the window is
    partial), detrended = y - trend, seasonal = per-phase mean of the
    detrended series (phase = row index mod period), residual =
    detrended - seasonal. `period` must be ODD (a centered window of
    even length needs the 2xM weighted form). Seasonal indices are
    left uncentered — the per-phase means themselves — which keeps
    every quantity an exact windowed aggregate.

    Deterministic: both means accumulate in decimal (order-
    independent) with one double division. Shape: the MA window and
    row numbering share ONE (key) sort; the phase means are a second
    window over (key, phase) — two exchanges total, no joins, no
    driver actions. Returns every input row + trend/seasonal/residual."""
    if period % 2 == 0:
        raise ValueError("period must be odd for a centered moving average")
    by = by or []
    df = _time_norm(df, time_col)
    half = period // 2
    order = (time_col, *(order_tiebreak or []))
    w_order = ordered(by, *order)
    w_ma = ordered(by, *order, rows=(-half, half))
    cnt = F.count(value_col).over(w_ma)
    trend = F.when(
        cnt == period,
        F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(w_ma), 4)
        .cast("double") / cnt,
    )
    phase = (F.row_number().over(w_order) - 1) % period
    staged = df.select(
        *df.columns, trend.alias("__trend"), phase.alias("__phase"),
        (F.col(value_col) - trend).alias("__det"),
    )
    w_phase = ordered([*by, "__phase"])
    seasonal = (
        F.round(F.sum(F.col("__det").cast("decimal(30,8)")).over(w_phase), 4)
        .cast("double") / F.count("__det").over(w_phase)
    )
    return staged.select(
        *df.columns,
        F.round("__trend", round_to).alias("trend"),
        F.round(seasonal, round_to).alias("seasonal"),
        F.round(F.col("__det") - seasonal, round_to).alias("residual"),
    )


def anomaly_decomposed(
    df: DataFrame,
    period: int = 25,
    threshold: float = 3.5,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Seasonal-residual anomaly detection (the STL-residual method):
    classical decomposition strips trend + seasonality, then a point
    is anomalous when its residual is a robust outlier (|modified
    z-score| > threshold, the anomaly_mad convention) — catching
    spikes that plain value
    thresholds miss on trending/seasonal series and NOT flagging the
    seasonal swings themselves. Composition of two verified pieces:
    decompose_classical + the anomaly_mad median/MAD recipe, the
    medians sharing the decomposition's key partitioning. Returns
    only the anomalous rows (edge rows with null trend are skipped —
    no residual exists there)."""
    by = by or []
    dec = decompose_classical(
        df, period=period, time_col=time_col, by=by, value_col=value_col,
        order_tiebreak=order_tiebreak,
    )
    w = ordered(by)
    med = F.expr("percentile(residual, 0.5)").over(w)
    m1 = dec.filter(F.col("residual").isNotNull()).select(
        *dec.columns, med.alias("__med")
    )
    mad = F.expr("percentile(abs(residual - __med), 0.5)").over(w)
    m2 = m1.select(*m1.columns, mad.alias("__mad"))
    z = F.lit(0.6745) * (F.col("residual") - F.col("__med")) / F.col("__mad")
    keep = id_cols or [c for c in df.columns if c not in (time_col, value_col)]
    return (
        m2.filter((F.col("__mad") > 0) & (F.abs(z) > F.lit(threshold)))
        .select(
            *[c for c in keep if c in m2.columns],
            value_col, "trend", "seasonal", "residual",
            F.round(z, 6).alias("mod_zscore"),
        )
    )


def holt_winters_forecast(
    df: DataFrame,
    period: int = 24,
    horizon: int = 5,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.4,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal forecast per key (triple
    exponential smoothing, Winters 1960): level/trend recurrences
    plus a length-`period` seasonal state updated in place, then
    `horizon` steps ahead at level + h*trend + seasonal[(t+h) mod m].

    Init is the simple zero-seasonal form (l0 = x0, b0 = 0, s = 0s):
    seasonality is LEARNED through gamma over repeated cycles, which
    keeps the recurrence exactly reproducible (no season-mean init
    whose sum order would be ambiguous). Like ewma/holt, sequential
    per key -> one Arrow batch per key group; the DuckDB oracle
    replays the identical float op order carrying the seasonal state
    as a LIST column. Returns (*by, step, forecast, level, trend,
    seasonal)."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    by = by or []
    m = period
    df = _time_norm(df, time_col)
    sort_cols = [time_col] + (order_tiebreak or [])
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in by]
        + [
            StructField("step", LongType()),
            StructField("forecast", DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("seasonal", DoubleType()),
        ]
    )

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype=float)
        lvl, trd = x[0], 0.0
        s = [0.0] * m
        for t in range(1, len(x)):
            s_used = s[t % m]
            prev = lvl
            lvl = alpha * (x[t] - s_used) + (1 - alpha) * (lvl + trd)
            trd = beta * (lvl - prev) + (1 - beta) * trd
            s[t % m] = gamma * (x[t] - lvl) + (1 - gamma) * s_used
        last_t = len(x) - 1
        rows = {
            "step": list(range(1, horizon + 1)),
            "forecast": [
                lvl + h * trd + s[(last_t + h) % m]
                for h in range(1, horizon + 1)
            ],
            "level": [lvl] * horizon,
            "trend": [trd] * horizon,
            "seasonal": [s[(last_t + h) % m] for h in range(1, horizon + 1)],
        }
        for c in by:
            rows[c] = [pdf[c].iloc[0]] * horizon
        return pd.DataFrame(rows)[[f.name for f in out_schema.fields]]

    return _per_key(df, by, sort_cols, per_key, out_schema)


def lttb(
    df: DataFrame,
    n_out: int = 100,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    per key: pick the point per bucket that maximizes the triangle
    area with the previously kept point and the next bucket's
    centroid — the visual-fidelity downsampler (keeps spikes and
    inflections that plain bucketing averages away). Complements M4,
    which preserves min/max/first/last exactly but picks 4
    points/bucket.

    The choice is sequential per key (each bucket depends on the
    previous selection), so it runs as one Arrow batch per key group
    — parallel across keys, n_out rows out per key. Returns the
    SELECTED original rows.

    Deterministic (full-oracle reproducible): the selection runs on
    µs timestamps offset by the key's first timestamp and values
    quantized to 1e-6 (floor(v*1e6 + 0.5) — identical float op order
    in any IEEE engine); bucket centroids use EXACT int64 sums (no
    float accumulation order), so a SQL engine replays the argmax
    bit-for-bit. Exactness bound: bucket_rows x time_range_µs (and
    bucket_rows x |v|x1e6) must stay under 2^63 — e.g. 10^6-row
    buckets over a ~3-year range; pre-slice longer spans. Ties in
    triangle area keep the earliest candidate (argmax convention)."""
    import numpy as np
    import pandas as pd

    by = by or []
    df = _time_norm(df, time_col)
    sort_cols = [time_col] + (order_tiebreak or [])
    out_schema = df.schema

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n <= n_out:
            return pdf
        x = (
            pdf[time_col].to_numpy().astype("datetime64[us]").astype(np.int64)
        )
        xs = x - x[0]
        yq = np.floor(pdf[value_col].to_numpy(dtype=np.float64) * 1e6 + 0.5)
        yi = yq.astype(np.int64)
        # first and last always kept; n_out-2 interior buckets.
        # Bounds mirror np.linspace(1, n-1, n_out-1).astype(int64)
        # op-for-op (k*step + 1 truncated; last pinned to n-1).
        step = (n - 2) / (n_out - 2)
        bounds = np.trunc(np.arange(n_out - 1) * step + 1).astype(np.int64)
        bounds[-1] = n - 1
        keep = [0]
        a = 0
        for i in range(n_out - 2):
            lo, hi = bounds[i], bounds[i + 1]
            nlo, nhi = (bounds[i + 1], n) if i == n_out - 3 else (
                bounds[i + 1], bounds[i + 2]
            )
            cnt = nhi - nlo
            cx = float(xs[nlo:nhi].sum()) / cnt
            cy = float(yi[nlo:nhi].sum()) / cnt
            xa = float(xs[a])
            ya = yq[a]
            area = np.abs(
                (xa - cx) * (yq[lo:hi] - ya)
                - (xa - xs[lo:hi].astype(np.float64)) * (cy - ya)
            )
            a = lo + int(area.argmax())
            keep.append(a)
        keep.append(n - 1)
        return pdf.iloc[keep]

    return _per_key(df, by, sort_cols, per_key, out_schema)


def anomaly_mad(
    df: DataFrame,
    by: list[str] | None = None,
    value_col: str = "value",
    threshold: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Robust outlier detection per key: modified z-score
    |0.6745 * (x - median) / MAD| > threshold (Iglewicz & Hoaglin's
    recommended 3.5), where MAD = median(|x - median|). Median/MAD
    resist the very outliers they detect, unlike mean/stddev.

    Shape: two window aggregates over the SAME unordered partition —
    one shuffle on the keys, no joins, no driver pull; the second
    window reuses the first's exchange. Both medians are exact
    interpolated percentiles, so every value is deterministic (no
    floating accumulation ordering — percentile sorts, not sums).
    Returns only the anomalous rows with their diagnostics."""
    by = by or []
    w = ordered(by)
    med = F.expr(f"percentile({value_col}, 0.5)").over(w)
    step1 = df.withColumn("median", med)
    mad = F.expr("percentile(abs(`" + value_col + "` - median), 0.5)").over(w)
    step2 = step1.withColumn("mad", mad)
    score = F.lit(0.6745) * (F.col(value_col) - F.col("median")) / F.col("mad")
    return (
        step2.filter((F.col("mad") > 0) & (F.abs(score) > F.lit(threshold)))
        .withColumn("mod_zscore", F.round(score, round_to))
    )


def seasonal_profile(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-day seasonal profile per key: the mean value in each
    hour slot, the key's overall mean, and the seasonal index
    (slot mean / overall mean) — the classical multiplicative
    seasonality diagnostic, and the lookup table a seasonal-adjust
    step divides by.

    ONE groupBy on (key, hour) with map-side partial decimal sums
    (24 slots per key — the shuffle moves aggregates, not rows), then
    a window over the tiny aggregated frame for the key totals. All
    means derive from order-free decimal(30,8) sums, so the profile
    is engine- and partitioning-exact."""
    by = by or []
    df = _time_norm(df, time_col)
    slots = df.groupBy(
        *[F.col(c) for c in by], F.hour(F.col(time_col)).alias("hour")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
        .cast("double")
        .alias("__s"),
    )
    wk = ordered(by)
    hour_mean = F.col("__s") / F.col("n")
    # re-cast to decimal for the key total: exact and order-free
    overall = (
        F.sum(F.col("__s").cast("decimal(30,8)")).over(wk).cast("double")
        / F.sum("n").over(wk)
    )
    return slots.select(
        *by,
        "hour",
        "n",
        F.round(hour_mean, 6).alias("hour_mean"),
        F.round(overall, 6).alias("overall_mean"),
        F.round(hour_mean / overall, 6).alias("seasonal_index"),
    )


def changepoint_cusum(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Per-key CUSUM changepoint detection (Page 1954): the
    standardized cumulative sum of deviations from the key mean,
    S_i = sum_{j<=i}(x_j - mean) / std; the changepoint estimate is
    the time where |S| peaks, and the peak height is the shift
    evidence. One row per key: (cp_time, cp_score, n).

    Determinism across engines: mean/std come from decimal(30,8)
    fixed-point sums (order-free), the running sum accumulates
    decimals over a (time, tiebreak)-deterministic order, and the
    argmax tie-breaks to the earliest time. Shape: two window frames
    plus a row_number filter, ALL over the same key partitioning —
    one shuffle total, no joins, no driver pull."""
    by = by or []
    df = _time_norm(df, time_col)
    wk = ordered(by)
    order = (time_col, *(order_tiebreak or []))
    wo = ordered(by, *order, rows=(None, 0))
    n = F.count("*").over(wk)
    s1 = F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(wk), 4).cast(
        "double"
    )
    s2 = F.round(
        F.sum((F.col(value_col) * F.col(value_col)).cast("decimal(30,8)")).over(wk), 4
    ).cast("double")
    mean = s1 / n
    std = F.sqrt(s2 / n - mean * mean)
    base = df.select(
        *by, F.col(time_col), F.col(value_col),
        *order[1:],  # tiebreak columns for the running order
        n.alias("__n"), mean.alias("__mean"), std.alias("__std"),
    )
    cs = F.round(
        F.sum((F.col(value_col) - F.col("__mean")).cast("decimal(30,8)")).over(wo), 4
    ).cast("double")
    scored = base.filter(F.col("__std") > 0).select(
        *by, F.col(time_col), F.col("__n"),
        F.round(F.abs(cs) / F.col("__std"), round_to).alias("__score"),
    )
    wr = ordered(by, F.col("__score").desc_nulls_last(), time_col)
    return (
        scored.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(
            *by,
            F.col(time_col).alias("cp_time"),
            F.col("__score").alias("cp_score"),
            F.col("__n").alias("n"),
        )
    )


def acf(
    df: DataFrame,
    lags: int = 3,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Per-key autocorrelation at row lags 1..`lags`: Pearson corr
    between the series and its lag-k shift — the standard seasonality
    and persistence diagnostic. No self-join: lag() windows over ONE
    (key, time, tiebreak) sort, then corr() aggregates per key — one
    shuffle total, and all lag columns reuse the same sorted exchange.
    The tiebreak makes the total order (and thus every lag pair)
    deterministic when timestamps collide. Rounded to `round_to` so
    floating accumulation order across engines can't flip a digit."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []))
    lagged = df.select(
        *by,
        F.col(value_col).alias("__v"),
        *[F.lag(value_col, k).over(w).alias(f"__l{k}") for k in range(1, lags + 1)],
    )
    aggs = [
        F.round(F.corr("__v", f"__l{k}"), round_to).alias(f"acf_{k}")
        for k in range(1, lags + 1)
    ]
    if by:
        return lagged.groupBy(*by).agg(*aggs)
    return lagged.agg(*aggs)


def activity_heatmap(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Weekday x hour activity heatmap per key — the load-profile /
    on-call staffing readout (complements seasonal_profile's
    hour-only index with the weekly dimension). One map-side-combined
    groupBy shipping at most 7 x 24 cells per key; counts are exact
    integers and the optional value mean is decimal-accumulated.
    ISO weekday numbering (1 = Monday), UTC hours (session TZ).
    Returns (*by, weekday, hour, n[, avg_value])."""
    by = by or []
    df = _time_norm(df, time_col)
    keys = [
        *by,
        F.dayofweek(F.col(time_col)).alias("__dow_sun1"),
        F.hour(F.col(time_col)).alias("hour"),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col:
        aggs.append(
            (
                F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
                .cast("double") / F.count(value_col)
            ).alias("avg_value")
        )
    out = df.groupBy(*keys).agg(*aggs)
    # Spark dayofweek: 1 = Sunday; convert to ISO (1 = Monday)
    iso = F.when(F.col("__dow_sun1") == 1, F.lit(7)).otherwise(
        F.col("__dow_sun1") - 1
    )
    return out.select(
        *by, iso.cast("long").alias("weekday"),
        F.col("hour").cast("long").alias("hour"), "n",
        *(["avg_value"] if value_col else []),
    )


def bursts(
    df: DataFrame,
    every: str = "1 hour",
    trailing: int = 24,
    factor: float = 3.0,
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Burst detection (Kleinberg-flavored, bucket form): buckets
    whose event count exceeds `factor` x the trailing `trailing`-
    bucket average — the alert primitive for traffic spikes / error
    storms on a metric stream. One bucket groupBy + one lag-frame
    window on the same key — the count aggregation ships per-bucket
    partials, the window never re-shuffles rows. The trailing frame
    EXCLUDES the current bucket (a burst must not raise its own
    baseline); buckets with no preceding history never alert.
    Integer counts + one double division; deterministic. Returns
    alert rows (*by, bucket, n, trailing_avg, burst_factor)."""
    by = by or []
    df = _time_norm(df, time_col)
    counts = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = ordered(by, "bucket", rows=(-trailing, -1))
    t_sum = F.sum("n").over(w)
    t_cnt = F.count("n").over(w)
    avg = t_sum.cast("double") / t_cnt.cast("double")
    staged = counts.select(
        *by, "bucket", "n", avg.alias("trailing_avg"),
    )
    return (
        staged.filter(
            F.col("trailing_avg").isNotNull()
            & (F.col("n") > F.lit(factor) * F.col("trailing_avg"))
        )
        .select(
            *by, "bucket", "n",
            F.round("trailing_avg", 6).alias("trailing_avg"),
            F.round(F.col("n") / F.col("trailing_avg"), 6).alias("burst_factor"),
        )
    )


def sax(
    df: DataFrame,
    word_len: int = 8,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin 2003): per key,
    z-normalize the ordered series, reduce it to `word_len` PAA
    segment means, and map each to a 4-letter alphabet (a/b/c/d) at
    the standard Gaussian breakpoints (-0.6745, 0, 0.6745). The
    classic shape index for motif/novelty mining and cheap series
    similarity.

    Deterministic end-to-end: mean/std from decimal sums (std's sqrt
    is IEEE-correctly-rounded, unlike ln), PAA means decimal-
    accumulated, symbols from exact comparisons. Two windows + one
    groupBy, all on the SAME key partitioning — one shuffle. Segment
    assignment is row-based: seg = floor((rn-1) * word_len / n).
    Returns (*by, segment, paa, symbol)."""
    by = by or []
    df = _time_norm(df, time_col)
    wk = ordered(by)
    wo = ordered(by, time_col, *(order_tiebreak or []))
    n = F.count(value_col).over(wk)
    s1 = F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(wk), 4).cast("double")
    s2 = F.round(
        F.sum((F.col(value_col) * F.col(value_col)).cast("decimal(38,8)")).over(wk), 4
    ).cast("double")
    mean = s1 / n
    std = F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
    rn = F.row_number().over(wo)
    z = F.when(std > 0, (F.col(value_col) - mean) / std).otherwise(F.lit(0.0))
    seg = F.floor((rn - 1) * word_len / n).cast("int")
    staged = df.select(*by, z.alias("__z"), seg.alias("segment"))
    paa = (
        F.round(F.sum(F.col("__z").cast("decimal(30,8)")), 4).cast("double")
        / F.count("__z")
    )
    sym = (
        F.when(F.col("paa") < -0.6745, F.lit("a"))
        .when(F.col("paa") < 0.0, F.lit("b"))
        .when(F.col("paa") < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        staged.groupBy(*by, "segment")
        .agg(paa.alias("paa"))
        .select(*by, "segment", F.round("paa", 6).alias("paa"), sym.alias("symbol"))
    )


def ks_drift(
    df: DataFrame,
    split,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    alpha_c: float = 1.358,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per key: the value
    distribution BEFORE `split` (the reference sample) vs AFTER (the
    current sample). The standard distribution-shift tripwire for
    monitoring and training-data pipelines — catches a sensor
    recalibration or a corpus-mix change that means/medians miss.

    D = max_x |F_before(x) - F_after(x)| computed EXACTLY: one sort
    per key (a single window over the pooled rows; ties handled by a
    RANGE frame so F(x) counts every sample <= x), cumulative counts
    per side, max of the ECDF gap. One shuffle on the key, no joins,
    no approximation. `drifted` applies the large-sample rejection
    bound c(alpha) * sqrt((n1+n2)/(n1*n2)) with c = `alpha_c`
    (1.358 = alpha 0.05). Returns per key:
    (n_before, n_after, ks_d, ks_crit, drifted)."""
    by = by or []
    df = _time_norm(df, time_col)
    tagged = df.select(
        *by,
        F.col(value_col).alias("__x"),
        # a null time is not before the split: it counts as after
        F.when(F.col(time_col) < F.lit(split), 1).otherwise(0).alias("__a"),
    )
    w = ordered(by, "__x", range=(None, 0))
    wall = ordered(by)
    staged = tagged.select(
        *by,
        F.sum("__a").over(w).alias("__ca"),
        F.sum(1 - F.col("__a")).over(w).alias("__cb"),
        F.sum("__a").over(wall).alias("__na"),
        F.sum(1 - F.col("__a")).over(wall).alias("__nb"),
    )
    gap = F.abs(
        F.col("__ca").cast("double") / F.col("__na")
        - F.col("__cb").cast("double") / F.col("__nb")
    )
    out = staged.groupBy(*[F.col(c) for c in by]).agg(
        F.min("__na").alias("n_before"),
        F.min("__nb").alias("n_after"),
        F.max(gap).alias("__d"),
    )
    crit = F.lit(alpha_c) * F.sqrt(
        (F.col("n_before") + F.col("n_after")).cast("double")
        / (F.col("n_before") * F.col("n_after"))
    )
    return out.select(
        *by,
        "n_before",
        "n_after",
        F.round("__d", round_to).alias("ks_d"),
        F.round(crit, round_to).alias("ks_crit"),
        (F.col("__d") > crit).alias("drifted"),
    )


def psi_drift(
    df: DataFrame,
    split,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    n_bins: int = 10,
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Population Stability Index per key — the standard ML
    monitoring companion to ks_drift: bin the CURRENT sample by the
    REFERENCE sample's decile edges and score
    PSI = Σ (q_i - p_i) · ln(q_i / p_i). Rule-of-thumb bands: < 0.1
    stable, 0.1-0.2 moderate shift, > 0.2 significant (the `shifted`
    flag). Zero-count bins substitute `eps` (documented convention)
    so PSI stays finite.

    Shape: reference quantile edges = ONE bounded row per key
    (exact interpolated percentiles), broadcast back; bin assignment
    is a JVM fold over the 1-row edge array (count of edges < x);
    then one (key, bin) groupBy with conditional counts and one
    per-key rollup. One broadcast join + two aggregations, no
    row-pair work at all. Keys with an EMPTY reference sample are
    omitted (no reference deciles → no PSI; ks_drift keeps such keys
    with a null statistic instead). Returns (n_before, n_after, psi,
    shifted)."""
    by = by or []
    df = _time_norm(df, time_col)
    qs = [i / n_bins for i in range(1, n_bins)]
    tagged = df.select(
        *by,
        F.col(value_col).alias("__x"),
        # a null time is not before the split: it counts as after
        F.when(F.col(time_col) < F.lit(split), 1).otherwise(0).alias("__a"),
    )
    edges = (
        tagged.filter(F.col("__a") == 1)
        .groupBy(*[F.col(c) for c in by])
        .agg(
            # edges round @6 BEFORE binning: the two engines'
            # percentile interpolation can differ by 1 ulp, and a
            # data point sitting exactly on an edge must bin the
            # same way everywhere
            F.transform(
                F.expr(
                    "percentile(__x, array(" + ", ".join(map(str, qs)) + "))"
                ),
                lambda e: F.round(e, 6),
            ).alias("__edges")
        )
    )
    joined = (
        tagged.join(broadcast(edges), on=by) if by
        else tagged.crossJoin(broadcast(edges))
    )
    bin_idx = F.aggregate(
        F.col("__edges"),
        F.lit(0),
        lambda acc, e: acc + (F.col("__x") > e).cast("int"),
    )
    cells = (
        joined.select(*by, bin_idx.alias("__bin"), "__a")
        .groupBy(*[F.col(c) for c in by], F.col("__bin"))
        .agg(
            F.sum("__a").alias("__ca"),
            F.sum(1 - F.col("__a")).alias("__cb"),
        )
    )
    wall = ordered(by)
    frac = cells.select(
        *by,
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"),
        "__ca", "__cb",
    )
    p = F.greatest(
        F.col("__ca").cast("double") / F.col("__na"), F.lit(eps)
    )
    q = F.greatest(
        F.col("__cb").cast("double") / F.col("__nb"), F.lit(eps)
    )
    # the 10 per-bin terms accumulate in decimal so the sum is
    # partition-order independent (the repo's determinism convention)
    out = frac.groupBy(*[F.col(c) for c in by]).agg(
        F.min("__na").alias("n_before"),
        F.min("__nb").alias("n_after"),
        F.sum(((q - p) * F.log(q / p)).cast("decimal(38,18)"))
        .cast("double").alias("__psi"),
    )
    return out.select(
        *by,
        "n_before",
        "n_after",
        F.round("__psi", round_to).alias("psi"),
        (F.col("__psi") > 0.2).alias("shifted"),
    )


def benford(
    df: DataFrame,
    value_col: str = "value",
    by: list[str] | None = None,
    scale: float = 1e6,
    round_to: int = 6,
) -> DataFrame:
    """First-significant-digit distribution per key vs Benford's law
    — the classic fabricated/truncated-data audit (Benford 1938;
    widely used for metric-pipeline QA: organically-generated
    positive measurements follow P(d) = log10(1 + 1/d), while
    clipped, defaulted, or synthetic values don't). Emits the full
    1-9 digit grid per key (zero-count digits included) with the
    observed fraction, the Benford expectation, and the deviation.

    Determinism: the first digit comes from the DECIMAL STRING of
    floor(value * scale) as int64 — both engines perform the same
    IEEE multiply + floor and integer-to-string is exact, so no
    log10 boundary (1 ulp under a power of ten) can flip a digit.
    Values that quantize below 1 (zero, negative, |x| < 1/scale) are
    excluded and counted in nothing, as are NaN/Inf and values whose
    quantization would overflow int64 (x·scale >= 9.2e18): the
    explicit magnitude guard excludes them identically in BOTH
    engines (Spark clamps an overflowing cast where DuckDB nulls it,
    and NaN compares false against the bound in both), and the digit
    cast is a try_cast so nothing can fail the job under ANSI mode —
    documented behavior.

    Shape: ONE scan — a map-side-combined (key, digit) groupBy, then
    a per-key rollup that folds the ≤9 digit counts into a bounded
    map and explodes the full 1-9 grid off it (no totals re-scan, no
    join-back: the earlier grid-join formulation cost 4 FileScans).
    Expected fractions are literals (computed once driver-side).
    Returns per (key, digit): (digit, n, n_total, frac, expected,
    dev)."""
    import math

    by = by or []
    expected = [round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)]
    n_int = F.floor(F.col(value_col) * F.lit(scale)).try_cast("long")
    digit = F.substring(n_int.cast("string"), 1, 1).cast("int")
    base = df.filter(
        F.col(value_col).isNotNull()
        & (F.col(value_col) * F.lit(scale) < F.lit(9.2e18))
        & (n_int >= 1)
    ).select(*by, digit.alias("__d"))
    counts = base.groupBy(*[F.col(c) for c in by], F.col("__d")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_key = counts.groupBy(*[F.col(c) for c in by]).agg(
        F.map_from_entries(
            F.collect_list(F.struct("__d", "__c"))
        ).alias("__m"),
        F.sum("__c").alias("__n"),
    )
    j = per_key.select(
        *by, "__n",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("__d"),
        F.col("__m"),
    ).select(
        *by, "__n", "__d",
        F.coalesce(F.element_at("__m", F.col("__d")), F.lit(0)).alias("__c"),
    )
    exp_col = F.element_at(
        F.array(*[F.lit(e) for e in expected]), F.col("__d")
    )
    frac = F.col("__c").cast("double") / F.col("__n").cast("double")
    return j.select(
        *by,
        F.col("__d").alias("digit"),
        F.col("__c").alias("n"),
        F.col("__n").alias("n_total"),
        F.round(frac, round_to).alias("frac"),
        exp_col.alias("expected"),
        F.round(frac - exp_col, round_to).alias("dev"),
    )


def _bucket_count_guard(
    b: DataFrame, keys: list, op: str, max_buckets: int
) -> DataFrame:
    """Execution-time guard for operators whose pair/grid space is
    buckets² per key: a caller passing a fine `every` over a long
    range (1 minute over a year ≈ 5.3e5 buckets → 1.4e11 pairs PER
    KEY) gets a clear error instead of an accidental quadratic job.
    assert_true rides the existing plan — no extra action; the count
    window runs over the tiny calendar-bounded bucket table, never
    the raw events."""
    wcnt = ordered(keys)
    guard = F.assert_true(
        F.count(F.lit(1)).over(wcnt) <= F.lit(max_buckets),
        F.lit(
            f"{op}: more than {max_buckets} buckets for one key — the "
            f"pair space is buckets^2, so this would be a quadratic "
            f"job. Coarsen `every`, narrow the time range, or raise "
            f"max_buckets explicitly."
        ),
    )
    return (
        b.withColumn("__guard", guard)
        .filter(F.col("__guard").isNull())
        .drop("__guard")
    )


def theil_sen_trend(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    round_to: int = 6,
    max_buckets: int = 20000,
) -> DataFrame:
    """Robust trend per key: Theil-Sen slope (median of all pairwise
    bucket slopes — up to 29% outlier breakdown vs 0% for OLS), the
    Sen intercept, and the Mann-Kendall trend test (S statistic +
    Kendall's tau) — the standard monotonic-trend toolkit for noisy
    monitoring series, where one spike wrecks a least-squares fit.

    Shape: resample first (decimal-exact bucket means — fully
    distributed), THEN pairs. The pair space is buckets², bounded by
    time-range/`every` like ts_xcorr's bucket series — never raw
    rows². One equi-join on the key + two aggregates; the 1-row
    slope re-joins (broadcast) for the intercept pass. Deterministic:
    exact interpolated percentiles for both medians, decimal bucket
    means, integer bucket seconds. Errors at execution (assert_true,
    no extra job) if any key exceeds `max_buckets` buckets — the
    guard against an accidental buckets² blow-up at fine `every`.
    Returns per key:
    (n_buckets, sen_slope_per_sec, intercept, mk_s, kendall_tau)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = (
        df.groupBy(
            *by, time_bucket(time_col, every).alias("__bucket")
        )
        .agg(
            (
                F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
                .cast("double") / F.count(value_col)
            ).alias("__v")
        )
        .select(
            *by,
            F.unix_timestamp("__bucket").alias("__t"),
            "__v",
        )
    )
    b = _bucket_count_guard(b, by, "theil_sen_trend", max_buckets)
    a = b.select(
        *by, F.col("__t").alias("__t1"), F.col("__v").alias("__v1")
    )
    c = b.select(
        *by, F.col("__t").alias("__t2"), F.col("__v").alias("__v2")
    )
    on = by if by else None
    pairs = (
        a.join(c, on=on) if on else a.crossJoin(c)
    ).filter(F.col("__t2") > F.col("__t1"))
    # Sen slope = EXACT median of the pairwise slopes. The obvious
    # `percentile(slope, 0.5)` aggregate is an ObjectHashAggregate
    # that buffers every slope in a boxed-Double hash map — measured
    # 3.7 s on the 1.29 M-pair grid at sf0.1. A codegen radix sort +
    # row_number and picking the two middle rows computes the SAME
    # interpolation: Spark's Percentile uses position=(n-1)*p,
    # result = lo*(ceil-pos) + hi*(pos-floor); at p=0.5 the weights
    # are exactly 0.5, so 0.5*lo + 0.5*hi is bit-identical (verified
    # pairwise on the sf0.1 grid and property-tested vs percentile).
    # Null slopes (a null bucket mean on either side) drop first —
    # percentile and sum(signum) both skip exactly those rows.
    slopes = pairs.select(
        *by,
        ((F.col("__v2") - F.col("__v1"))
         / (F.col("__t2") - F.col("__t1")).cast("double")).alias("__sl"),
        F.signum(F.col("__v2") - F.col("__v1")).cast("long").alias("__sg"),
    ).filter(F.col("__sl").isNotNull())
    w_rank = ordered(by, "__sl")
    w_all = ordered(by)
    ranked = slopes.select(
        *by, "__sl", "__sg",
        (F.row_number().over(w_rank) - 1).alias("__r"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    pos = (F.col("__n") - 1).cast("double") * F.lit(0.5)
    mid = F.when(
        (F.col("__r") == F.floor(pos)) | (F.col("__r") == F.ceil(pos)),
        F.col("__sl"),
    )
    stats = ranked.groupBy(*[F.col(k) for k in by]).agg(
        F.when(F.min("__n") % 2 == 1, F.min(mid))
        .otherwise(F.lit(0.5) * F.min(mid) + F.lit(0.5) * F.max(mid))
        .alias("sen_slope_per_sec"),
        F.sum("__sg").alias("mk_s"),
    )
    # ONE downstream pass: join the 1-row-per-key stats back onto the
    # buckets and take counts, stats pass-through, and the intercept
    # median from the SAME frame — re-joining `stats` later would
    # re-execute the whole pair aggregation (the round-4 audit's
    # subtree re-execution pitfall)
    joined = (
        b.join(broadcast(stats), on=by) if by
        else b.crossJoin(broadcast(stats))
    )
    out = joined.groupBy(*[F.col(k) for k in by]).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.min("sen_slope_per_sec").alias("sen_slope_per_sec"),
        F.min("mk_s").alias("mk_s"),
        F.expr(
            "percentile(__v - sen_slope_per_sec * CAST(__t AS DOUBLE), 0.5)"
        ).alias("intercept"),
    )
    # Session memo of the fitted trend table: capacity_eta composes the
    # EXACT trend ts_trend_robust just fitted — one O(buckets²) fit
    # per session instead of one per consumer.
    from fossil_spark.catalog import memo

    out = memo(out, tag="theil_sen")
    return out.select(
        *by,
        "n_buckets",
        F.round("sen_slope_per_sec", round_to + 3).alias("sen_slope_per_sec"),
        F.round("intercept", round_to).alias("intercept"),
        "mk_s",
        F.round(
            F.col("mk_s").cast("double")
            / (F.col("n_buckets") * (F.col("n_buckets") - 1) / 2),
            round_to,
        ).alias("kendall_tau"),
    )


def cross_correlation(
    df: DataFrame,
    series_a: str,
    series_b: str,
    lags: int = 3,
    every: str = "1 hour",
    time_col: str = "time",
    series_col: str = "event_type",
    value_col: str = "value",
    round_to: int = 4,
) -> DataFrame:
    """Cross-correlation between two named signals at bucket lags
    0..`lags`: does series B lead/lag series A? Both signals resample
    to `every` buckets in ONE conditional aggregation (no join, no
    pivot shuffle), then corr(a_{t-k}, b_t) per lag (series A is
    lagged; a positive-lag peak means A leads B) over lag()
    windows sharing one bucket sort. Buckets where a signal is absent
    contribute null and corr skips the pair (both engines agree).

    The bucketed pair series is a SINGLE ordered partition by
    construction (it has no key) — fine at any corpus size because
    its length is time-range/bucket, not row count; resampling
    upstream is fully distributed. Deterministic: decimal bucket
    means, corr rounded to `round_to` (the ts_acf convention).
    Returns one row: xcorr_0..xcorr_L."""
    df = _time_norm(df, time_col)
    bucketed = (
        df.filter(F.col(series_col).isin(series_a, series_b))
        .groupBy(time_bucket(time_col, every).alias("bucket"))
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col(series_col) == series_a, F.col(value_col)
                        ).cast("decimal(30,8)")
                    ),
                    4,
                ).cast("double")
                / F.count(F.when(F.col(series_col) == series_a, value_col))
            ).alias("__a"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col(series_col) == series_b, F.col(value_col)
                        ).cast("decimal(30,8)")
                    ),
                    4,
                ).cast("double")
                / F.count(F.when(F.col(series_col) == series_b, value_col))
            ).alias("__b"),
        )
    )
    # xcorr_k = corr(a_{t-k}, b_t): a peak at k > 0 means B TRAILS A
    # by k buckets
    w = ordered([], "bucket")
    lagged = bucketed.select(
        "__b",
        *[F.lag("__a", k).over(w).alias(f"__al{k}") for k in range(lags + 1)],
    )
    return lagged.agg(
        *[
            F.round(F.corr(f"__al{k}", "__b"), round_to).alias(f"xcorr_{k}")
            for k in range(lags + 1)
        ]
    )


# ---------------------------------------------------------------------------
# exact greedy sample (reference-parity variant)
# ---------------------------------------------------------------------------

def greedy_sample(df: DataFrame, every: timedelta,
                  time_col: str = "time") -> DataFrame:
    """Exact reference semantics for sample(Δ)
    (/root/reference/pkg/query/plan/metadata.go:46): keep the first
    datum, then skip until last_kept + Δ. This is an inherently
    sequential scan over the global time order — O(n) on one worker —
    so it exists only for bit-parity; fql's bucketed sample is the
    scale path. Implemented as a single _per_key group (Arrow
    batch, not a driver collect)."""
    import logging

    import pandas as pd

    logging.getLogger("fossil_spark").warning(
        "greedy_sample runs the whole stream through ONE Arrow batch "
        "on one executor (sequential reference parity); use the "
        "bucketed FQL sample(Δ) for distributed decimation."
    )

    every_us = int(every.total_seconds() * 1_000_000)
    df = _time_norm(df, time_col)
    schema = df.schema

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        times = pdf[time_col].astype("int64")  # ns
        keep = []
        next_t = None
        for i, t in enumerate(times):
            if next_t is None or t >= next_t:
                keep.append(i)
                next_t = t + every_us * 1000
        return pdf.iloc[keep]

    return _per_key(df, [], [time_col], pick, schema)


def drawdown(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Maximum drawdown per key: the largest peak-to-trough drop of
    the running maximum — the standard "how far below its best has
    this metric fallen" health readout (finance's max-drawdown,
    equally at home on throughput / capacity series).

    Shape: one cumulative-max window and one groupBy over the SAME
    key partitioning (the exchange is reused), no joins. The trough
    row is selected by a single struct-max — (drawdown, -time,
    -tiebreak) — so ties break on the EARLIEST occurrence
    deterministically. Doubles flow through untouched (cummax /
    subtraction are exact IEEE ops in any engine); only the final
    ratio is rounded. Keys with every value at the peak report a 0
    drawdown at their first row. Returns (key..., n_events,
    peak_value, trough_value, trough_ts, max_drawdown,
    max_drawdown_frac)."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []), rows=(None, 0))
    peak = F.max(value_col).over(w)
    s = df.select(
        *by,
        F.col(time_col),
        F.col(value_col),
        peak.alias("__peak"),
        (peak - F.col(value_col)).alias("__dd"),
        *(order_tiebreak or []),
    )
    pick = F.max(
        F.struct(
            F.col("__dd").alias("dd"),
            (-F.unix_micros(F.col(time_col))).alias("nts"),
            *[
                (-F.col(c)).alias(f"nt{i}")
                for i, c in enumerate(order_tiebreak or [])
            ],
            F.col("__peak").alias("peak"),
            F.col(value_col).alias("trough"),
            F.unix_micros(F.col(time_col)).alias("ts_us"),
        )
    ).alias("__m")
    out = s.groupBy(*by).agg(F.count(F.lit(1)).alias("n_events"), pick)
    return out.select(
        *by,
        "n_events",
        F.col("__m.peak").alias("peak_value"),
        F.col("__m.trough").alias("trough_value"),
        F.timestamp_micros(F.col("__m.ts_us")).alias("trough_ts"),
        F.col("__m.dd").alias("max_drawdown"),
        F.round(F.try_divide(F.col("__m.dd"), F.col("__m.peak")), 6).alias(
            "max_drawdown_frac"
        ),
    )


def cadence(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Sampling-cadence audit per key: inter-arrival gap statistics —
    the ingest-health readout a TSDB operator checks before trusting
    any downstream rate/window math (is this topic actually arriving
    at the cadence its dashboards assume, and how bad are the
    stalls?).

    Gap quantiles are EXACT RANK selections over integer-µs gaps
    (median = mean of the two middle order statistics, p95 = the
    order statistic at rank n - floor(n/20)) — all-integer rank
    arithmetic, no interpolation kernel, so no engine pair can
    disagree by an ulp (the ts_psi_drift lesson). Shape: one lag
    window, one rank window, one groupBy — all on the same key
    partitioning, zero joins. Keys with < 2 events have no gaps and
    are omitted. Returns (key..., n_events, n_gaps, min_gap_us,
    max_gap_us, mean_gap_us, median_gap_us, p95_gap_us,
    worst_over_median)."""
    by = by or []
    df = _time_norm(df, time_col)
    wlag = ordered(by, time_col, *(order_tiebreak or []))
    gap = F.unix_micros(F.col(time_col)) - F.unix_micros(
        F.lag(time_col).over(wlag)
    )
    g = (
        df.select(*by, gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
    )
    wrank = ordered(by, "gap_us")
    wall = ordered(by)
    r = g.select(
        *by,
        "gap_us",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
    )
    lo = F.floor((F.col("__cnt") + 1) / 2)
    hi = F.ceil((F.col("__cnt") + 1) / 2)
    p95_rank = F.col("__cnt") - F.floor(F.col("__cnt") / 20)
    out = r.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("__sum"),
        F.max(F.when(F.col("__rn") == lo, F.col("gap_us"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi, F.col("gap_us"))).alias("__hi"),
        F.max(F.when(F.col("__rn") == p95_rank, F.col("gap_us"))).alias(
            "p95_gap_us"
        ),
    )
    median = (F.col("__lo") + F.col("__hi")).cast("double") / F.lit(2.0)
    return out.select(
        *by,
        (F.col("n_gaps") + 1).alias("n_events"),
        "n_gaps",
        "min_gap_us",
        "max_gap_us",
        round6_half_up(
            F.col("__sum").cast("double") / F.col("n_gaps")
        ).alias("mean_gap_us"),
        median.alias("median_gap_us"),
        "p95_gap_us",
        F.round(
            F.try_divide(F.col("max_gap_us").cast("double"), median), 6
        ).alias("worst_over_median"),
    )


def forecast_eval(
    df: DataFrame,
    cutoff,
    horizon: int = 5,
    every: str = "1 hour",
    alpha: float = 0.5,
    beta: float = 0.3,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Forecast BACKTEST per key: fit Holt's linear trend on the
    buckets before `cutoff`, score the next `horizon` buckets, and
    report MAE against the naive last-value persistence baseline —
    the skill score (1 - mae_model/mae_naive) that decides whether a
    forecast model earns its keep before anyone alerts on it.

    Test buckets align to forecast steps BY RANK (1st bucket after
    the cutoff = step 1, …), the standard convention when series may
    have gaps. Shape: one bucket groupBy (decimal means), the
    checkpointed bucket table feeds train/test/naive branches once,
    Holt runs as the sanctioned one-Arrow-batch-per-key recurrence,
    the naive value is a struct-max (last train bucket), and both
    MAEs accumulate decimal(30,8). Returns (*by, n_test, mae_holt,
    mae_naive, skill)."""
    by = by or []
    df = _time_norm(df, time_col)
    bucketed = (
        df.groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(_dec_avg(value_col).alias("v"))
        .localCheckpoint(eager=False)  # feeds train, test, and naive
    )
    train = bucketed.filter(F.col("bucket") < F.lit(cutoff))
    wtest = ordered(by, "bucket")
    test = (
        bucketed.filter(F.col("bucket") >= F.lit(cutoff))
        .select(*by, "v", F.row_number().over(wtest).alias("step"))
        .filter(F.col("step") <= horizon)
    )
    fc = holt_forecast(
        train, horizon=horizon, alpha=alpha, beta=beta,
        time_col="bucket", by=by, value_col="v",
    ).select(*by, "step", "forecast")
    naive = train.groupBy(*by).agg(
        F.max(F.struct(F.col("bucket"), F.col("v"))).alias("__last")
    ).select(*by, F.col("__last.v").alias("__naive"))
    j = test.join(fc, [*by, "step"]).join(naive, by)

    def dec_mae(err: Column) -> Column:
        return (
            F.round(F.sum(err.cast("decimal(30,8)")), 4).cast("double")
            / F.count(F.lit(1))
        )

    out = j.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        dec_mae(F.abs(F.col("v") - F.col("forecast"))).alias("mae_holt"),
        dec_mae(F.abs(F.col("v") - F.col("__naive"))).alias("mae_naive"),
    )
    return out.select(
        *by, "n_test", "mae_holt", "mae_naive",
        F.round(
            F.lit(1.0)
            - F.try_divide(F.col("mae_holt"), F.col("mae_naive")),
            6,
        ).alias("skill"),
    )


def slo_burn(
    df: DataFrame,
    error_budget: float = 0.25,
    every: str = "1 hour",
    trailing: int = 6,
    time_col: str = "time",
    error_pred: Column | None = None,
    order_col: str = "event_type",
) -> DataFrame:
    """SLO error-budget burn rate (the Google SRE workbook's
    multiwindow, multi-burn-rate alert): per bucket, the error rate
    relative to the budget (burn 1.0 = exactly consuming budget), a
    trailing `trailing`-bucket burn, and the standard alert condition
    (fast window hot AND slow window confirming) — the paging signal
    a metrics store exists to serve.

    `error_pred` marks error rows (default: order_col == 'error').
    Shape: one bucket groupBy (integer counts), then ONE ordered
    window over the bucket table for the trailing sums — the bucket
    table is time-range/bucket rows, never events, so the single
    partition is bounded at any corpus size. All rates are single
    divisions of exact integer sums. Returns (bucket, n, n_err,
    burn_fast, burn_slow, alert)."""
    df = _time_norm(df, time_col)
    pred = (
        error_pred if error_pred is not None
        else F.col(order_col) == "error"
    )
    b = (
        df.groupBy(time_bucket(time_col, every).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias("n_err"),
        )
    )
    w = ordered([], "bucket", rows=(-(trailing - 1), 0))
    burn_fast = F.round(
        F.col("n_err").cast("double") / F.col("n") / F.lit(error_budget), 6
    )
    burn_slow = F.round(
        F.sum("n_err").over(w).cast("double")
        / F.sum("n").over(w)
        / F.lit(error_budget),
        6,
    )
    out = b.select(
        "bucket", "n", "n_err",
        burn_fast.alias("burn_fast"),
        burn_slow.alias("burn_slow"),
    )
    return out.withColumn(
        "alert", (F.col("burn_fast") >= 2.0) & (F.col("burn_slow") >= 1.0)
    )


def dtw_distance(
    df: DataFrame,
    series_a: str,
    series_b: str,
    every: str = "6 hours",
    time_col: str = "time",
    series_col: str = "event_type",
    value_col: str = "value",
    max_buckets: int = 20000,
) -> DataFrame:
    """Dynamic-time-warping distance between two named signals
    (Sakoe & Chiba 1978, full unbanded DP) — the shape-similarity
    measure that survives phase shifts and local speed-ups where
    plain correlation (ts_xcorr) degrades: 'do these two metrics
    trace the same curve, even slightly out of step?'.

    Both signals resample to `every` buckets in ONE conditional
    aggregation (the ts_xcorr shape, decimal means, no join); buckets
    where either signal is absent are dropped (complete-case
    alignment). The DP grid is (time-range/bucket)² — bounded by the
    CALENDAR, not the row count, so the single sequential batch is
    fine at any corpus size; the recurrence itself is the sanctioned
    one-Arrow-batch boundary (like ts_ewma). Cell order and float op
    order (cost + min(up, left, diag), plain IEEE doubles) are fixed,
    so the DuckDB oracle replays the grid bit-for-bit via a
    recursive CTE carrying the DP row as a LIST (the holt_winters
    technique). Returns one row (n_buckets, dtw, dtw_per_step)."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    df = _time_norm(df, time_col)

    def cond_mean(name: str):
        return (
            F.round(
                F.sum(
                    F.when(
                        F.col(series_col) == name, F.col(value_col)
                    ).cast("decimal(30,8)")
                ),
                4,
            ).cast("double")
            / F.count(F.when(F.col(series_col) == name, value_col))
        )

    bucketed = (
        df.filter(F.col(series_col).isin(series_a, series_b))
        .groupBy(time_bucket(time_col, every).alias("bucket"))
        .agg(cond_mean(series_a).alias("__a"), cond_mean(series_b).alias("__b"))
        .filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    )
    # the DP grid is n_buckets² cells in ONE sequential Arrow batch —
    # past ~20k buckets that's a 4e8-cell driver-side spin; fail loudly
    bucketed = _bucket_count_guard(bucketed, [], "dtw_distance", max_buckets)
    out_schema = StructType(
        [
            StructField("n_buckets", LongType()),
            StructField("dtw", DoubleType()),
            StructField("dtw_per_step", DoubleType()),
        ]
    )
    big = 1e308

    def dp(pdf: pd.DataFrame) -> pd.DataFrame:
        a = [float(x) for x in pdf["__a"]]
        b = [float(x) for x in pdf["__b"]]
        n = len(a)
        if n == 0:
            return pd.DataFrame(
                {"n_buckets": [0], "dtw": [None], "dtw_per_step": [None]}
            )
        prev = [0.0] + [big] * n
        for i in range(1, n + 1):
            cur = [big]
            for j in range(1, n + 1):
                cur.append(
                    abs(a[i - 1] - b[j - 1])
                    + min(prev[j], cur[j - 1], prev[j - 1])
                )
            prev = cur
        dist = prev[n]
        return pd.DataFrame(
            {
                "n_buckets": [n],
                "dtw": [dist],
                "dtw_per_step": [dist / (2 * n)],
            }
        )

    return _per_key(bucketed, [], ["bucket"], dp, out_schema)


def time_weighted_avg(
    df: DataFrame,
    every: str = "1 day",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average per key per bucket — trapezoidal
    integration between consecutive samples, the TSDB answer to "what
    was the average level" when sampling is irregular (a plain mean
    over-weights chatty periods; reference parity target: the rollup
    layer continuous aggregates are built on, cf. pkg/query docs'
    sample/reduce pipeline which has no irregular-sampling
    correction).

    Buckets are closed on their own samples: integration spans
    consecutive samples INSIDE a bucket only (no cross-bucket
    interpolation), so a bucket needs >= 2 samples to report a TWA
    and the denominator is the observed span, not the bucket width —
    documented semantics, identical in the oracle.

    Determinism: values quantize to integer micro-units (floor(v*1e6
    + 0.5), the ts_benford/lttb rule) and each trapezoid area
    (v_prev6 + v6) * gap_us accumulates in decimal(38,0) —
    order-independent integer arithmetic end to end; ONE double
    division at the end (both engines cast the same exact integer).
    Shape: one lag window + one groupBy on the same (key, bucket)
    partitioning, zero joins. Returns (*by, bucket, n_samples,
    span_us, mean_value, twa)."""
    by = by or []
    df = _time_norm(df, time_col)
    v6 = F.floor(F.col(value_col) * 1e6 + F.lit(0.5)).cast("long")
    s = df.select(
        *by,
        time_bucket(time_col, every).alias("bucket"),
        F.unix_micros(F.col(time_col)).alias("__tus"),
        F.col(value_col).alias("__v"),
        v6.alias("__v6"),
        *(order_tiebreak or []),
    )
    w = ordered([*by, "bucket"], "__tus", *(order_tiebreak or []))
    pv6 = F.lag("__v6").over(w)
    pt = F.lag("__tus").over(w)
    area = (
        (pv6 + F.col("__v6")).cast("decimal(38,0)")
        * (F.col("__tus") - pt)
    ).cast("decimal(38,0)")
    staged = s.select(*by, "bucket", "__tus", "__v", area.alias("__area"))
    agg = staged.groupBy(*by, "bucket").agg(
        F.count(F.lit(1)).alias("n_samples"),
        (F.max("__tus") - F.min("__tus")).alias("span_us"),
        F.sum(F.col("__v").cast("decimal(30,8)")).alias("__vsum"),
        F.sum("__area").alias("__asum"),
    )
    return agg.filter(F.col("span_us") > 0).select(
        *by,
        "bucket",
        "n_samples",
        "span_us",
        (
            F.round(F.col("__vsum"), 4).cast("double") / F.col("n_samples")
        ).alias("mean_value"),
        F.round(
            F.col("__asum").cast("double")
            / F.col("span_us").cast("double")
            / F.lit(2000000.0),
            6,
        ).alias("twa"),
    )


def threshold_episodes(
    df: DataFrame,
    threshold: float,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Above-threshold episodes per key: maximal runs of consecutive
    samples with value > threshold, with start/end/duration/peak per
    episode — the incident-duration readout behind alert escalation
    ("how long was this metric hot, and how hot") and SLA burn
    attribution. Complements [[ts_interval_coverage]] (which measures
    given intervals) by DERIVING the intervals from point samples.

    Classic islands shape: two row_numbers over the SAME key
    partitioning (one overall, one within the flagged subset) — their
    difference is constant inside a run — then one groupBy on the
    island id. One sort, zero joins; single-sample episodes report
    duration 0 (documented). All arithmetic integer/IEEE-max exact.
    Returns (*by, start_ts, end_ts, n_samples, duration_us,
    peak_value)."""
    by = by or []
    df = _time_norm(df, time_col)
    order = (time_col, *(order_tiebreak or []))
    flagged = F.col(value_col) > F.lit(threshold)
    w_all = ordered(by, *order)
    w_flag = ordered([*by, "__hot"], *order)
    s = df.select(
        *by,
        F.col(time_col),
        F.col(value_col),
        flagged.alias("__hot"),
        *(order_tiebreak or []),
    ).select(
        *by,
        F.col(time_col),
        F.col(value_col),
        "__hot",
        (F.row_number().over(w_all) - F.row_number().over(w_flag)).alias(
            "__island"
        ),
    )
    return (
        s.filter(F.col("__hot"))
        .groupBy(*by, "__island")
        .agg(
            F.min(time_col).alias("start_ts"),
            F.max(time_col).alias("end_ts"),
            F.count(F.lit(1)).alias("n_samples"),
            (
                F.max(F.unix_micros(F.col(time_col)))
                - F.min(F.unix_micros(F.col(time_col)))
            ).alias("duration_us"),
            F.max(value_col).alias("peak_value"),
        )
        .drop("__island")
    )


def rolling_median(
    df: DataFrame,
    window_rows: int = 25,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Exact rolling median per key over the trailing `window_rows`
    samples — the robust rolling baseline (a rolling MEAN chases the
    outliers it should be flagging; the median is the standard
    de-spiked reference for ratio/deviation alerts).

    `window_rows` must be ODD and only FULL frames emit: an odd-count
    exact median is the middle order statistic — an element of the
    data, selected with pure rank arithmetic, NO interpolation kernel
    — so no engine pair can disagree by an ulp (the ts_psi_drift
    lesson; same rule as [[ts_cadence]]'s rank quantiles). A frame
    holding a null value is not full. The value type picks the engine
    (_rolling_rank): numpy windows for doubles, a bounded
    collect_list + array_sort window otherwise, same rows. Returns
    (*by, ts rows w/ value, rolling_median, deviation)."""
    by = by or []
    s = _rolling_rank(df, window_rows, time_col, by, value_col,
                      order_tiebreak or [], want_mad=False)
    return s.select(
        *by, F.col(time_col), F.col(value_col),
        F.col("__med").alias("rolling_median"),
        (F.col(value_col) - F.col("__med")).alias("deviation"),
    )


_INTERVAL_US = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def _interval_us(every: str) -> int:
    """Parse a Spark window-interval string ('1 hour', '15 minutes')
    to integer microseconds (calendar units like month are not
    fixed-width and are rejected)."""
    parts = every.strip().split()
    if len(parts) != 2:
        raise ValueError(f"unsupported interval: {every!r}")
    n, unit = parts
    unit = unit.rstrip("s")
    if unit not in _INTERVAL_US:
        raise ValueError(f"unsupported interval unit: {every!r}")
    return int(n) * _INTERVAL_US[unit]


def lomb_scargle(
    df: DataFrame,
    periods_minutes: tuple[int, ...] = (60, 360, 720, 1440),
    phase_step_minutes: int = 15,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Phase-binned Lomb-Scargle periodogram per key (Lomb 1976,
    Scargle 1982 — THE spectral estimator for UNEVENLY sampled
    series, which raw event streams are; [[ts_period_detect]]'s
    FFT-on-buckets needs a regular grid and zero-fills gaps, LS
    weighs each observation where it actually lies). For each
    candidate period P the tau-corrected power

        P(w) = 0.5 * [ (Σ(y-ȳ)cos w(t-τ))² / Σcos² w(t-τ)
                     + (Σ(y-ȳ)sin w(t-τ))² / Σsin² w(t-τ) ]

    is computed entirely from EIGHT per-(key, period) sums — n, Σy,
    Σy², Σsin, Σcos, Σsin2, Σcos2, Σy·sin, Σy·cos — via the standard
    double-angle identities (Σcos²=(n+Σcos2)/2 etc.), so the whole
    estimator is ONE map-side-combinable aggregation at any scale.

    Cross-engine exactness: timestamps are binned to
    `phase_step_minutes` phase slots, so each period has a FINITE set
    of phases whose sin/cos are computed ONCE in Python (rounded @8)
    and injected into BOTH plans — the Spark side as a broadcast
    lookup table, the oracle as a VALUES list. No per-row libm trig
    on either engine, so the sums match bitwise (the
    Python-literal-injection convention: NDCG discounts, Benford
    bins). The only engine trig left is sin/cos/atan2 of the
    AGGREGATED tau angle — a handful of scalar evaluations.

    Spark shape: events explode x |periods| (map-side), ONE
    data-sized groupBy down to (key, period, phase) bins carrying
    just (n, Σy, Σy²), then the broadcast trig join and the eight
    weighted sums run over the ≤|Σ phases|-row bin table; the
    closed-form tail is scalar math on the tiny result. Keys/periods with a
    degenerate phase spread (zero cc/ss/variance) yield NULL power.
    Returns (*by, period_minutes, n, power, power_norm) — power_norm
    is power / sample variance (the classical normalized
    periodogram, ~chi²/2 under white noise)."""
    import math

    by = by or []
    for p in periods_minutes:
        if p % phase_step_minutes != 0:
            raise ValueError(
                f"period {p} not divisible by phase step "
                f"{phase_step_minutes}"
            )
    spark = df.sparkSession
    trig_rows = []
    for p in periods_minutes:
        nph = p // phase_step_minutes
        for k in range(nph):
            th = 2.0 * math.pi * k / nph
            trig_rows.append((
                int(p), int(k),
                round(math.sin(th), 8), round(math.cos(th), 8),
                round(math.sin(2.0 * th), 8), round(math.cos(2.0 * th), 8),
            ))
    trig = spark.createDataFrame(
        trig_rows,
        "period_minutes long, phase_idx long, s1 double, c1 double,"
        " s2 double, c2 double",
    )
    df = _time_norm(df, time_col).filter(F.col(value_col).isNotNull())
    step_us = phase_step_minutes * 60_000_000
    base = df.select(
        *by,
        F.floor(F.unix_micros(time_col) / F.lit(step_us)).alias("__slot"),
        F.col(value_col).cast("double").alias("__v"),
        F.explode(
            F.array(
                *[F.lit(int(p)).cast("long") for p in periods_minutes]
            )
        ).alias("period_minutes"),
    ).withColumn(
        "phase_idx",
        F.expr(f"__slot % (period_minutes div {phase_step_minutes})"),
    )
    def dsum(e):
        return F.sum(F.round(e, 8).cast("decimal(30,8)")).cast("double")

    # two-level aggregation: the data-sized pass computes only
    # (n, Σy, Σy²) per PHASE BIN — sin/cos depend on nothing but the
    # phase, so the trig weighting collapses onto the ≤|Σ phases|-row
    # per-key bin table (Σ sinθ = Σ_p n_p·s1_p, Σ y·sinθ =
    # Σ_p (Σy)_p·s1_p). The heavy scan carries 3 decimal sums and no
    # join; the joined trig math touches ~|keys|·172 rows.
    pre = base.groupBy(*by, "period_minutes", "phase_idx").agg(
        F.count(F.lit(1)).cast("long").alias("__np"),
        dsum(F.col("__v")).alias("__svp"),
        dsum(F.col("__v") * F.col("__v")).alias("__svvp"),
    )
    joined = pre.join(
        F.broadcast(trig), ["period_minutes", "phase_idx"]
    )
    g = joined.groupBy(*by, "period_minutes").agg(
        F.sum("__np").cast("long").alias("n"),
        dsum(F.col("__svp")).alias("__sy"),
        dsum(F.col("__svvp")).alias("__syy"),
        dsum(F.col("__np").cast("double") * F.col("s1")).alias("__s"),
        dsum(F.col("__np").cast("double") * F.col("c1")).alias("__c"),
        dsum(F.col("__np").cast("double") * F.col("s2")).alias("__s2"),
        dsum(F.col("__np").cast("double") * F.col("c2")).alias("__c2"),
        dsum(F.col("__svp") * F.col("s1")).alias("__ys"),
        dsum(F.col("__svp") * F.col("c1")).alias("__yc"),
    )
    nd = F.col("n").cast("double")
    ybar = F.col("__sy") / nd
    wt = F.lit(0.5) * F.atan2(F.col("__s2"), F.col("__c2"))
    co, si = F.cos(wt), F.sin(wt)
    cy = F.col("__yc") - ybar * F.col("__c")
    sy = F.col("__ys") - ybar * F.col("__s")
    a = co * cy + si * sy
    b = co * sy - si * cy
    cc = (
        co * co * ((nd + F.col("__c2")) / F.lit(2.0))
        + F.lit(2.0) * co * si * (F.col("__s2") / F.lit(2.0))
        + si * si * ((nd - F.col("__c2")) / F.lit(2.0))
    )
    ss = (
        si * si * ((nd + F.col("__c2")) / F.lit(2.0))
        - F.lit(2.0) * co * si * (F.col("__s2") / F.lit(2.0))
        + co * co * ((nd - F.col("__c2")) / F.lit(2.0))
    )
    power = F.when(
        (cc > F.lit(0.0)) & (ss > F.lit(0.0)),
        F.lit(0.5) * (a * a / cc + b * b / ss),
    )
    var = F.when(
        F.col("n") > 1,
        (F.col("__syy") - nd * ybar * ybar) / (nd - F.lit(1.0)),
    )
    pnorm = F.when(
        power.isNotNull() & var.isNotNull() & (var > F.lit(0.0)),
        power / var,
    )
    return g.select(
        *by, "period_minutes", "n",
        round6_half_up(power).alias("power"),
        round6_half_up(pnorm).alias("power_norm"),
    )


def period_detect(
    df: DataFrame,
    periods: list[int] | None = None,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Dominant-period detection per key via epoch folding (phase
    dispersion minimization — the astronomy technique, Stellingwerf
    1978): for each candidate period p (in buckets), fold the
    bucketed series by phase = bucket_index mod p and score how much
    of the variance the phase means explain (between-phase sum of
    squares / total sum of squares). The seasonality auto-detector
    that tells [[ts_seasonal]] / [[ts_holt_winters]] WHICH period to
    use — and, unlike an FFT periodogram, every op here is exact
    (decimal means, IEEE subtraction/squaring, decimal-quantized term
    sums): no trig, no engine-libm hazard.

    Shape: one bucket groupBy (decimal means), a |periods|-way
    explode of the BUCKET table (calendar-bounded, never row-scale),
    one (key, p, phase) groupBy, and window normalizers over the tiny
    per-key grid. Per-term quantization to decimal before every float
    sum keeps results partition-order independent (the text_zipf
    rule). Returns (*by, period, n_buckets, var_explained, is_best) —
    best = highest score, smallest period on ties."""
    by = by or []
    periods = periods or list(range(2, 49))
    df = _time_norm(df, time_col)
    us_per = F.lit(_interval_us(every))
    b = (
        df.groupBy(
            *by,
            F.floor(F.unix_micros(time_col) / us_per).alias("__h"),
        )
        .agg(
            (
                F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 6)
                .cast("double")
                / F.count(value_col)
            ).alias("__v")
        )
    )
    wk = ordered(by)
    # per-key overall mean and total SS, quantized-term sums
    b2 = b.select(
        *by,
        "__h",
        "__v",
        (
            F.round(F.sum(F.col("__v").cast("decimal(30,6)")).over(wk), 6)
            .cast("double")
            / F.count("__v").over(wk)
        ).alias("__mean"),
        F.count("__v").over(wk).alias("n_buckets"),
    )
    term_t = F.round(
        (F.col("__v") - F.col("__mean")) * (F.col("__v") - F.col("__mean")), 6
    ).cast("decimal(30,6)")
    b3 = b2.select(
        *by, "__h", "__v", "__mean", "n_buckets", term_t.alias("__sst_term")
    )
    grid = b3.select(
        *by,
        "__h",
        "__v",
        "__mean",
        "n_buckets",
        "__sst_term",
        F.explode(F.array([F.lit(p) for p in periods])).alias("period"),
    ).withColumn("__phase", F.pmod(F.col("__h"), F.col("period")))
    ph = grid.groupBy(*by, "period", "__phase").agg(
        F.count(F.lit(1)).alias("__npp"),
        (
            F.round(F.sum(F.col("__v").cast("decimal(30,6)")), 6)
            .cast("double")
            / F.count("__v")
        ).alias("__pmean"),
        F.first("__mean").alias("__mean"),
        F.first("n_buckets").alias("n_buckets"),
        F.sum("__sst_term").alias("__sst_part"),
    )
    ssb_term = (
        F.col("__npp")
        * F.round(
            (F.col("__pmean") - F.col("__mean"))
            * (F.col("__pmean") - F.col("__mean")),
            6,
        )
    ).cast("decimal(30,6)")
    per = ph.select(
        *by,
        "period",
        "n_buckets",
        "__sst_part",
        ssb_term.alias("__ssb_term"),
    ).groupBy(*by, "period").agg(
        F.first("n_buckets").alias("n_buckets"),
        F.sum("__sst_part").alias("__sst"),
        F.sum("__ssb_term").alias("__ssb"),
    )
    score = F.round(
        F.try_divide(
            F.col("__ssb").cast("double"), F.col("__sst").cast("double")
        ),
        6,
    )
    wbest = ordered(by, F.col("var_explained").desc_nulls_last(), "period")
    return (
        per.select(
            *by,
            F.col("period").cast("long").alias("period"),
            "n_buckets",
            score.alias("var_explained"),
        )
        .withColumn(
            "is_best", F.row_number().over(wbest) == 1
        )
    )


def durbin_levinson_stages(lags: int, acf_fmt: str = "acf_{k}"):
    """Durbin-Levinson recursion unrolled as SQL-text stages shared by
    the Spark operator AND the DuckDB oracle — both engines evaluate
    the LITERAL SAME formulas (left-associative sums, one guarded
    division per level), so starting from identical rounded acf inputs
    the phi values are bit-identical. Returns a list of SELECT layers;
    each layer is [(alias, expr)] referencing only earlier layers."""
    stages = [[("p_1_1", acf_fmt.format(k=1))]]
    for k in range(2, lags + 1):
        num = (
            acf_fmt.format(k=k)
            + " - ("
            + " + ".join(
                f"p_{k-1}_{j} * {acf_fmt.format(k=k - j)}"
                for j in range(1, k)
            )
            + ")"
        )
        den = (
            "1.0 - ("
            + " + ".join(
                f"p_{k-1}_{j} * {acf_fmt.format(k=j)}" for j in range(1, k)
            )
            + ")"
        )
        stages.append(
            [
                (
                    f"p_{k}_{k}",
                    f"CASE WHEN ({den}) = 0 THEN NULL"
                    f" ELSE ({num}) / ({den}) END",
                )
            ]
        )
        if k < lags:
            stages.append(
                [
                    (
                        f"p_{k}_{j}",
                        f"p_{k-1}_{j} - p_{k}_{k} * p_{k-1}_{k-j}",
                    )
                    for j in range(1, k)
                ]
            )
    return stages


def pacf(
    df: DataFrame,
    lags: int = 5,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-key PARTIAL autocorrelation at lags 1..L via the
    Durbin-Levinson recursion over the [[ts_acf]] values — the AR
    order-selection diagnostic (acf says "correlated at lag k"; pacf
    says "correlated at lag k AFTER removing lags 1..k-1", which is
    what picks p for an AR(p) model).

    The distributed work IS the acf pass (one sorted key exchange);
    the recursion is a fixed O(L^2) cascade of column expressions over
    the per-key acf row. Determinism: both engines start from the
    SAME round@4 acf values, and the recursion's formula text is
    generated once (durbin_levinson_stages) and evaluated verbatim by
    both — identical IEEE op order, bit-identical phis. Degenerate
    keys (acf undefined -> NULL, or a zero denominator) yield NULL
    pacf at the affected lags. Returns (*by, pacf_1..pacf_L)."""
    by = by or []
    a = acf(
        df, lags=lags, time_col=time_col, by=by, value_col=value_col,
        order_tiebreak=order_tiebreak,
    )
    cur = a
    for stage in durbin_levinson_stages(lags):
        cur = cur.select(
            "*", *[F.expr(expr).alias(alias) for alias, expr in stage]
        )
    return cur.select(
        *by,
        *[
            F.round(F.col(f"p_{k}_{k}"), 6).alias(f"pacf_{k}")
            for k in range(1, lags + 1)
        ],
    )


def session_stats(
    df: DataFrame,
    gap: timedelta,
    time_col: str = "time",
    by: list[str] | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-key session-quality rollup over [[ts_session]]'s gap
    sessionization: session count, events per session, exact-rank
    median / mean / max session duration, and the bounce rate
    (single-event-session fraction) — the engagement readout product
    teams put next to DAU. Shape: the sessionize window + groupBy
    (one key exchange), then rank windows over the |sessions|-bounded
    table (the cadence technique: median = mean of the two middle
    order statistics, pure integer rank arithmetic — no interpolation
    kernel). Returns (*by, n_sessions, n_events, mean_events,
    bounce_rate, mean_duration_us, median_duration_us,
    max_duration_us)."""
    by = by or []
    s = sessionize(df, gap, time_col, by, order_tiebreak)
    s2 = s.select(
        *by,
        F.col("n_events"),
        (
            F.unix_micros(F.col("session_end"))
            - F.unix_micros(F.col("session_start"))
        ).alias("__dur"),
    )
    wrank = ordered(by, "__dur")
    wall = ordered(by)
    r = s2.select(
        *by,
        "n_events",
        "__dur",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
    )
    lo = F.floor((F.col("__cnt") + 1) / 2)
    hi = F.ceil((F.col("__cnt") + 1) / 2)
    agg = r.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("__bounces"),
        F.sum("__dur").alias("__dsum"),
        F.max("__dur").alias("max_duration_us"),
        F.max(F.when(F.col("__rn") == lo, F.col("__dur"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi, F.col("__dur"))).alias("__hi"),
    )
    # integer-sum / count rationals land on exact .5e-6 ties often, and
    # engines' round() kernels split them differently (the
    # text_kn_bigram lesson) -> explicit floor-half-up, identical IEEE
    # formula text on both sides
    def _round6(e):
        return F.floor(e * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return agg.select(
        *by,
        "n_sessions",
        "n_events",
        _round6(
            F.col("n_events").cast("double") / F.col("n_sessions")
        ).alias("mean_events"),
        _round6(
            F.col("__bounces").cast("double") / F.col("n_sessions")
        ).alias("bounce_rate"),
        _round6(
            F.col("__dsum").cast("double") / F.col("n_sessions")
        ).alias("mean_duration_us"),
        ((F.col("__lo") + F.col("__hi")).cast("double") / F.lit(2.0)).alias(
            "median_duration_us"
        ),
        "max_duration_us",
    )


def top_movers(
    df: DataFrame,
    every: str = "1 day",
    k: int = 10,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Top-k bucket-over-bucket movers across ALL keys: which
    (key, bucket) mean shifted most vs its previous bucket — the
    "what changed since yesterday" triage view over a metric fleet.
    Shape: one (key, bucket) groupBy with decimal-exact means, a lag
    window per key over the calendar-bounded bucket table, then ONE
    global rank over that same small table (|keys| x |buckets| rows,
    never event-scale — the single-partition rank is safe by
    construction). Ties break on (key, bucket) deterministically.
    Returns (*by, bucket, prev_value, value, delta, pct_change,
    rank)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 6)
            .cast("double")
            / F.count(value_col)
        ).alias("value")
    )
    wlag = ordered(by, "bucket")
    s = b.select(
        *by, "bucket", "value", F.lag("value").over(wlag).alias("prev_value")
    ).filter(F.col("prev_value").isNotNull())
    delta = F.col("value") - F.col("prev_value")
    wrank = ordered([], F.abs(delta).desc_nulls_last(), *by, "bucket")
    return (
        s.select(
            *by, "bucket", "prev_value", "value", delta.alias("delta"),
            F.round(
                F.try_divide(delta, F.abs(F.col("prev_value"))), 6
            ).alias("pct_change"),
            F.row_number().over(wrank).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def seasonal_strength(
    df: DataFrame,
    period: int = 25,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Seasonal and trend STRENGTH per key (Hyndman & Athanasopoulos,
    "Forecasting: Principles and Practice" §: STL features):
    F_seasonal = max(0, 1 - var(resid)/var(seasonal + resid)) and
    F_trend = max(0, 1 - var(resid)/var(trend + resid)) over the
    [[ts_decompose]] components — the scalar readout that says
    whether a series' seasonality/trend is worth modeling (pairs with
    [[ts_period_detect]], which picks the period; this scores how
    strong it is).

    Shape: the decompose windows, then per-key mean/SS windows over
    the same key partitioning — one key exchange end to end.
    Determinism: decimal means, IEEE subtraction/squaring, per-term
    decimal(30,6) quantization before every float sum (the text_zipf
    rule). Edge rows where the centered MA is undefined are excluded
    (documented; same filter in the oracle). Returns (*by, n,
    var_resid, f_seasonal, f_trend)."""
    by = by or []
    d = decompose_classical(
        df, period, time_col, by, value_col, order_tiebreak
    ).filter(F.col("residual").isNotNull())
    s = d.select(
        *by,
        F.col("residual").alias("__r"),
        (F.col("seasonal") + F.col("residual")).alias("__sr"),
        (F.col("trend") + F.col("residual")).alias("__tr"),
    )
    wk = ordered(by)

    def mean_of(c):
        return (
            F.round(F.sum(F.col(c).cast("decimal(30,6)")).over(wk), 6)
            .cast("double")
            / F.count(c).over(wk)
        )

    m = s.select(
        *by, "__r", "__sr", "__tr",
        mean_of("__r").alias("__mr"),
        mean_of("__sr").alias("__msr"),
        mean_of("__tr").alias("__mtr"),
    )

    def ss_term(c, mc):
        return F.round(
            (F.col(c) - F.col(mc)) * (F.col(c) - F.col(mc)), 6
        ).cast("decimal(30,6)")

    t = m.select(
        *by,
        ss_term("__r", "__mr").alias("__t_r"),
        ss_term("__sr", "__msr").alias("__t_sr"),
        ss_term("__tr", "__mtr").alias("__t_tr"),
    )
    agg = t.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__t_r").alias("__ss_r"),
        F.sum("__t_sr").alias("__ss_sr"),
        F.sum("__t_tr").alias("__ss_tr"),
    )
    var_r = F.col("__ss_r").cast("double") / F.col("n")
    return agg.select(
        *by,
        "n",
        F.round(var_r, 6).alias("var_resid"),
        F.round(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.try_divide(
                    F.col("__ss_r").cast("double"),
                    F.col("__ss_sr").cast("double"),
                ),
            ),
            6,
        ).alias("f_seasonal"),
        F.round(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.try_divide(
                    F.col("__ss_r").cast("double"),
                    F.col("__ss_tr").cast("double"),
                ),
            ),
            6,
        ).alias("f_trend"),
    )


def corr_matrix(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: str = "key",
    value_col: str = "value",
    round_to: int = 4,
    max_buckets: int = 20000,
) -> DataFrame:
    """Pairwise Pearson correlation between every two keys' bucketed
    series — the metric-fleet correlation matrix behind "what moves
    together" triage and redundant-signal pruning (the all-pairs
    companion to [[ts_xcorr]]'s two-signal lag scan).

    Shape: one bucket groupBy (decimal means) collapses events to the
    calendar-bounded (key, bucket) table; the pair join is that SMALL
    table against itself on bucket (|keys|² x buckets worst case,
    never event-scale), keyed a.key < b.key so each pair appears
    once. corr() rounds @`round_to` (the ts_acf rule). Buckets where
    either side is missing drop out via the inner join — correlation
    over the co-observed buckets. Errors at execution if any key
    exceeds `max_buckets` buckets (the bucket-table self-join is
    calendar-bounded; the guard keeps it that way at fine `every`).
    Returns (key_a, key_b, n_buckets, corr)."""
    df = _time_norm(df, time_col)
    b = df.groupBy(
        F.col(by).alias("k"),
        time_bucket(time_col, every).alias("bucket"),
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 6)
            .cast("double")
            / F.count(value_col)
        ).alias("v")
    )
    b = _bucket_count_guard(b, ["k"], "corr_matrix", max_buckets)
    a = b.select(
        F.col("k").alias("key_a"), F.col("bucket"), F.col("v").alias("va")
    )
    c = b.select(
        F.col("k").alias("key_b"), F.col("bucket"), F.col("v").alias("vb")
    )
    j = a.join(c, "bucket").filter(F.col("key_a") < F.col("key_b"))
    return j.groupBy("key_a", "key_b").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.corr("va", "vb"), round_to).alias("corr"),
    )


def winsorized_stats(
    df: DataFrame,
    p: float = 0.05,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Winsorized mean per key: clamp values below the p-th / above
    the (1-p)-th order statistic to those cut points, then average —
    the robust location estimate ops dashboards want when a handful
    of outliers poison the plain mean (median ignores magnitude;
    winsorizing keeps it, bounded).

    Cut points are EXACT rank selections (lo = floor(n*p) + 1,
    hi = n - floor(n*p); pure integer rank arithmetic — the
    ts_cadence rule), broadcast per key by unbounded windows over the
    SAME sort the rank uses: one key exchange, zero joins. The
    winsorized mean accumulates in decimal. Returns (*by, n, lo_cut,
    hi_cut, n_clipped, mean_raw, mean_winsorized)."""
    if not 0.0 <= p < 0.5:
        # p >= 0.5 makes lo_rank cross hi_rank and every cut lookup
        # NULL — fail loudly like rolling_median/hampel validate theirs
        raise ValueError(f"winsorized_stats: p must be in [0, 0.5), got {p}")
    by = by or []
    df = _time_norm(df, time_col)
    wrank = ordered(by, value_col)
    wall = ordered(by)
    r = df.select(
        *by,
        F.col(value_col).alias("__v"),
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    lo_rank = F.floor(F.col("__n") * F.lit(p)) + 1
    hi_rank = F.col("__n") - F.floor(F.col("__n") * F.lit(p))
    r2 = r.select(
        *by,
        "__v",
        "__rn",
        F.max(F.when(F.col("__rn") == lo_rank, F.col("__v"))).over(wall)
        .alias("__lo"),
        F.max(F.when(F.col("__rn") == hi_rank, F.col("__v"))).over(wall)
        .alias("__hi"),
        (F.col("__rn") < lo_rank).alias("__below"),
        (F.col("__rn") > hi_rank).alias("__above"),
    )
    clipped = (
        F.when(F.col("__below"), F.col("__lo"))
        .when(F.col("__above"), F.col("__hi"))
        .otherwise(F.col("__v"))
    )
    agg = r2.select(
        *by, "__v", "__lo", "__hi",
        clipped.alias("__c"),
        (F.col("__below") | F.col("__above")).alias("__clip"),
    ).groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__lo").alias("lo_cut"),
        F.max("__hi").alias("hi_cut"),
        F.sum(F.when(F.col("__clip"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped"),
        F.sum(F.col("__v").cast("decimal(30,8)")).alias("__sv"),
        F.sum(F.col("__c").cast("decimal(30,8)")).alias("__sc"),
    )
    return agg.select(
        *by, "n", "lo_cut", "hi_cut", "n_clipped",
        (F.round(F.col("__sv"), 4).cast("double") / F.col("n")).alias(
            "mean_raw"
        ),
        (F.round(F.col("__sc"), 4).cast("double") / F.col("n")).alias(
            "mean_winsorized"
        ),
    )


def apdex(
    df: DataFrame,
    threshold: float,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Apdex score per key per bucket (the Apdex Alliance formula:
    (satisfied + tolerating/2) / total, satisfied = latency <= T,
    tolerating = T < latency <= 4T) — the industry-standard
    user-satisfaction rollup of a latency stream, the readout SRE
    dashboards put next to [[ts_slo_burn]]'s error budget.

    One map-side-combined groupBy; all-integer counts; the score is
    an explicit floor-half-up @6 of the (integer + half-integer)/n
    rational (the session_stats tie rule). NULL latencies are dropped
    before counting (they are "no measurement", not frustration —
    counting them would silently depress the score). Returns (*by,
    bucket, n, n_satisfied, n_tolerating, n_frustrated, apdex)."""
    by = by or []
    df = _time_norm(df, time_col).filter(F.col(value_col).isNotNull())
    v = F.col(value_col)
    agg = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(v <= threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_satisfied"),
        F.sum(
            F.when((v > threshold) & (v <= 4 * threshold), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_tolerating"),
    )
    score = (
        F.col("n_satisfied").cast("double")
        + F.col("n_tolerating").cast("double") / F.lit(2.0)
    ) / F.col("n").cast("double")
    return agg.select(
        *by, "bucket", "n", "n_satisfied", "n_tolerating",
        (F.col("n") - F.col("n_satisfied") - F.col("n_tolerating")).alias(
            "n_frustrated"
        ),
        (
            F.floor(score * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("apdex"),
    )


def profile_drift(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Hour-of-day activity-profile drift per key between the first
    and second half of the observed time range — "did the daily shape
    change", the seasonal-profile companion to [[ts_psi_drift]]'s
    value-distribution drift (a traffic pattern can shift hours
    without shifting values; this catches it).

    The split point is data-anchored (integer midpoint of the global
    µs range, a one-row broadcast — the tpch_q15 scalar pattern).
    Shape: one (key, hour) groupBy with conditional per-half counts
    (no join between halves), per-key share normalizers as windows
    over the <= 24-row-per-key grid, L1 distance with per-term
    decimal quantization. Shares are floor-half-up integer rationals;
    a key with zero events in one half gets share 0 for that half's
    hours, so its L1 reads 1.0 (all mass on one side), never NULL.
    Returns (*by, n_first, n_second, profile_l1) — L1 in [0, 2],
    0 = identical shape."""
    by = by or []
    df = _time_norm(df, time_col)
    bounds = df.agg(
        F.min(F.unix_micros(F.col(time_col))).alias("__lo"),
        F.max(F.unix_micros(F.col(time_col))).alias("__hi"),
    )
    # floor division, not cast-of-double: Spark's double->long cast
    # truncates while DuckDB's rounds — floor() is identical in both
    mid = F.col("__lo") + F.floor(
        (F.col("__hi") - F.col("__lo")) / F.lit(2)
    )
    tagged = df.crossJoin(F.broadcast(bounds.select(mid.alias("__mid"))))
    g = tagged.groupBy(
        *by, F.hour(F.col(time_col)).alias("__hour")
    ).agg(
        F.sum(
            F.when(F.unix_micros(F.col(time_col)) < F.col("__mid"), 1)
            .otherwise(0)
        ).cast("long").alias("__na"),
        F.sum(
            F.when(F.unix_micros(F.col(time_col)) >= F.col("__mid"), 1)
            .otherwise(0)
        ).cast("long").alias("__nb"),
    )
    wk = ordered(by)
    ta = F.sum("__na").over(wk)
    tb = F.sum("__nb").over(wk)

    def _share(n, t):
        # a key with zero events in one half has share 0 for every hour
        # of that half (0/0 would be NaN -> NULL L1); the key's L1 then
        # reads 1.0 — "all mass moved", the maximal one-sided drift
        return F.when(
            t > F.lit(0),
            F.floor(
                n.cast("double") / t.cast("double") * F.lit(1000000.0)
                + F.lit(0.5)
            ) / F.lit(1000000.0),
        ).otherwise(F.lit(0.0))

    s = g.select(
        *by, "__na", "__nb",
        ta.alias("__ta"), tb.alias("__tb"),
        _share(F.col("__na"), ta).alias("__sa"),
        _share(F.col("__nb"), tb).alias("__sb"),
    )
    term = F.round(F.abs(F.col("__sa") - F.col("__sb")), 6).cast(
        "decimal(30,6)"
    )
    agg = s.select(*by, "__ta", "__tb", term.alias("__t")).groupBy(*by).agg(
        F.max("__ta").alias("n_first"),
        F.max("__tb").alias("n_second"),
        F.sum("__t").alias("__l1"),
    )
    return agg.select(
        *by,
        "n_first",
        "n_second",
        F.col("__l1").cast("double").alias("profile_l1"),
    )


def completeness(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Data-completeness scorecard per key: observed vs expected
    buckets over the key's own [first, last] range, coverage
    fraction, and the longest missing-bucket run — the ingest-health
    audit that tells you whether [[ts_gapfill]] has real work to do
    and whether a key's dashboards can be trusted ([[ts_cadence]]
    measures gaps between SAMPLES; this measures gaps on the bucket
    grid downstream aggregations actually use).

    All-integer bucket indices (epoch µs // bucket width); one bucket
    groupBy + one lag window + one groupBy on the same key
    partitioning. Coverage is a floor-half-up integer rational.
    Returns (*by, first_ts, last_ts, expected_buckets,
    observed_buckets, coverage, max_missing_run)."""
    by = by or []
    df = _time_norm(df, time_col)
    us_per = _interval_us(every)
    b = df.groupBy(
        *by,
        F.floor(F.unix_micros(time_col) / F.lit(us_per)).alias("__b"),
    ).agg(
        F.min(F.unix_micros(F.col(time_col))).alias("__lo"),
        F.max(F.unix_micros(F.col(time_col))).alias("__hi"),
    )
    w = ordered(by, "__b")
    s = b.select(
        *by, "__b", "__lo", "__hi",
        (F.col("__b") - F.lag("__b").over(w) - 1).alias("__miss"),
    )
    agg = s.groupBy(*by).agg(
        F.count(F.lit(1)).alias("observed_buckets"),
        F.min("__b").alias("__b0"),
        F.max("__b").alias("__b1"),
        F.min("__lo").alias("__t0"),
        F.max("__hi").alias("__t1"),
        F.max("__miss").alias("__mm"),
    )
    expected = F.col("__b1") - F.col("__b0") + 1
    return agg.select(
        *by,
        F.timestamp_micros(F.col("__t0")).alias("first_ts"),
        F.timestamp_micros(F.col("__t1")).alias("last_ts"),
        expected.alias("expected_buckets"),
        "observed_buckets",
        (
            F.floor(
                F.col("observed_buckets").cast("double")
                / expected.cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("coverage"),
        F.greatest(F.coalesce(F.col("__mm"), F.lit(0)), F.lit(0)).alias(
            "max_missing_run"
        ),
    )


def _rolling_rank(
    df: DataFrame,
    window_rows: int,
    time_col: str,
    by: list[str],
    value_col: str,
    order_tiebreak: list[str],
    want_mad: bool,
) -> DataFrame:
    """Trailing-window exact rank medians (and optionally MADs) of
    FULL odd frames over rows ordered by (time, tiebreak) with nulls
    last; a frame holding a null value is not full. Emits the input's
    (by, time, value, tiebreak) columns plus __med (+ __mad). The
    value type picks the engine: doubles run the numpy windows of
    _rolling_rank_arrow (r14 A/B at sf0.1: hampel 3.11 -> 0.85 s,
    rolling_median 1.79 -> 0.78 s against the JVM windows); any other
    type runs _rolling_rank_hof, which keeps that type (a float64
    window would not). Both engines give the same rows."""
    from pyspark.sql import types as T

    if window_rows % 2 == 0:
        raise ValueError("window_rows must be odd for exact medians")
    df = _time_norm(df, time_col)
    is_double = isinstance(df.schema[value_col].dataType, T.DoubleType)
    engine = _rolling_rank_arrow if is_double else _rolling_rank_hof
    return engine(df, window_rows, time_col, by, value_col,
                  order_tiebreak, want_mad)


def _rolling_rank_arrow(
    df: DataFrame,
    window_rows: int,
    time_col: str,
    by: list[str],
    value_col: str,
    order_tiebreak: list[str],
    want_mad: bool,
) -> DataFrame:
    """_rolling_rank in numpy behind the _per_key boundary — the
    matrix_profile engine precedent (guide §4.2). Bit-parity rule:
    the median is the middle element of the SORTED window and the
    MAD the middle element of the sorted |x - med| window — pure
    rank selection on the same float64 values the JVM holds, no
    interpolation, no summation — so np.sort vs array_sort select
    the identical element, NaN last in both. Pandas reads a null
    double as NaN, so a null flag rides along and every window
    holding a null drops, as collect_list's short frame does."""
    import numpy as np

    from pyspark.sql import types as T

    w = window_rows
    mid = w // 2
    base = df.select(*by, time_col, value_col, *order_tiebreak)
    out_fields = list(base.schema.fields) + [
        T.StructField("__med", T.DoubleType())
    ]
    if want_mad:
        out_fields.append(T.StructField("__mad", T.DoubleType()))
    out_schema = T.StructType(out_fields)

    def per_key(pdf):
        if len(pdf) < w:
            return None
        view = np.lib.stride_tricks.sliding_window_view
        full = ~view(pdf.pop("__null").to_numpy(), w).any(axis=1)
        sw = view(pdf[value_col].to_numpy(dtype=np.float64), w)[full]
        med = np.sort(sw, axis=1)[:, mid]
        out = pdf.iloc[w - 1:][full].copy()
        out["__med"] = med
        if want_mad:
            out["__mad"] = np.sort(np.abs(sw - med[:, None]), axis=1)[:, mid]
        return out

    flagged = base.withColumn("__null", F.col(value_col).isNull())
    return _per_key(flagged, by, [time_col] + order_tiebreak, per_key,
                    out_schema)


def _rolling_rank_hof(
    df: DataFrame,
    window_rows: int,
    time_col: str,
    by: list[str],
    value_col: str,
    order_tiebreak: list[str],
    want_mad: bool,
) -> DataFrame:
    """_rolling_rank as JVM window expressions: one bounded
    collect_list per row (it skips nulls, so a frame holding one is
    short and drops), median/MAD as array expressions — zero joins,
    one sort per key, the value type kept."""
    cols = [*by, time_col, value_col, *order_tiebreak]
    order = (time_col, *order_tiebreak)
    w = ordered(by, *order, rows=(-(window_rows - 1), 0))
    mid = window_rows // 2 + 1  # element_at is 1-based
    s = df.select(
        *cols, F.collect_list(F.col(value_col)).over(w).alias("__f")
    ).filter(F.size("__f") == window_rows)
    # CollapseProject re-inlines a projected expression into every
    # downstream reference — inside the 25-element transform lambda
    # that re-sorts the frame PER ELEMENT (the round-5 50x pitfall,
    # measured 10x here). A current-row-frame window is a real plan
    # barrier that materializes the value once per row AND reuses the
    # existing (key, time) sort — no extra exchange.
    w_row = ordered(by, *order, rows=(0, 0))

    def once(col):
        return F.last(col).over(w_row)

    med = F.try_element_at(F.array_sort(F.col("__f")), F.lit(mid))
    s = s.select(*cols, "__f", once(med).alias("__med"))
    if not want_mad:
        return s.drop("__f")
    mad = F.try_element_at(
        F.array_sort(
            F.transform(F.col("__f"), lambda x: F.abs(x - F.col("__med")))
        ),
        F.lit(mid),
    )
    return s.select(*cols, "__med", once(mad).alias("__mad"))


def hampel(
    df: DataFrame,
    window_rows: int = 25,
    k: float = 3.0,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Hampel filter per key: flag samples whose modified z-score
    against the TRAILING window's median/MAD exceeds `k` — the
    classic streaming-friendly spike detector ([[ts_anomaly_mad]]
    scores against the key's GLOBAL median; Hampel localizes it so a
    regime change doesn't flag a whole era). Only full (odd) frames
    score, so every median/MAD is the exact middle order statistic —
    rank selection, no interpolation kernel, engine-ulp safe (the
    ts_rolling_median rule). The value type picks the median/MAD
    engine (_rolling_rank); the score expression and the flag filter
    are Spark-side, shared with the oracle. Returns flagged rows
    only: (*by, ts, value, local_median, local_mad, score)."""
    by = by or []
    s = _rolling_rank(df, window_rows, time_col, by, value_col,
                      order_tiebreak or [], want_mad=True)
    score = F.round(
        F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad"),
        6,
    )
    return (
        s.select(
            *by, F.col(time_col), F.col(value_col),
            F.col("__med").alias("local_median"),
            F.col("__mad").alias("local_mad"),
            F.when(F.col("__mad") > 0, score).alias("score"),
        )
        .filter(F.col("score").isNotNull() & (F.abs("score") > F.lit(k)))
    )


def flatline(
    df: DataFrame,
    min_run: int = 3,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Stuck-sensor detection: maximal runs of >= `min_run`
    consecutive IDENTICAL values per key — a flatlined gauge usually
    means a dead collector or a frozen upstream, and it poisons every
    downstream aggregate silently ([[ts_completeness]] catches
    missing data; this catches data that is present but dead).

    Islands shape on value-equality: a run boundary is any row whose
    value differs from its predecessor (one lag + running sum over
    ONE sort — the sessionize trick), then a groupBy per run. All
    integer/IEEE-equality exact. Returns (*by, value, start_ts,
    end_ts, n_samples, duration_us) for qualifying runs."""
    by = by or []
    df = _time_norm(df, time_col)
    order = (time_col, *(order_tiebreak or []))
    w = ordered(by, *order)
    changed = F.when(
        F.lag(value_col).over(w).isNull()
        | (F.lag(value_col).over(w) != F.col(value_col)),
        1,
    ).otherwise(0)
    run = F.sum(changed).over(ordered(by, *order, rows=(None, 0)))
    s = df.select(
        *by, F.col(time_col), F.col(value_col), run.alias("__run")
    )
    return (
        s.groupBy(*by, F.col(value_col).alias("value"), "__run")
        .agg(
            F.min(time_col).alias("start_ts"),
            F.max(time_col).alias("end_ts"),
            F.count(F.lit(1)).alias("n_samples"),
            (
                F.max(F.unix_micros(F.col(time_col)))
                - F.min(F.unix_micros(F.col(time_col)))
            ).alias("duration_us"),
        )
        .filter(F.col("n_samples") >= min_run)
        .drop("__run")
    )


def percentile_bands(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Per-key per-bucket latency bands: exact p50 / p95 / p99 order
    statistics plus min/max — THE standard latency dashboard row
    (pairs with [[ts_apdex]]'s satisfaction rollup; [[agg_percentiles]]
    computes corpus-level percentiles, this computes them on the
    bucket grid dashboards page through).

    Quantiles are EXACT rank selections over each (key, bucket)
    partition (p50 = mean of the two middle order statistics, p95/p99
    = the ceil(q*n)-th order statistic) — pure integer rank
    arithmetic, no interpolation kernel, so no engine pair can
    disagree by an ulp (the ts_cadence rule). One sort per
    (key, bucket) partition + one groupBy on the same partitioning.
    Returns (*by, bucket, n, vmin, p50, p95, p99, vmax)."""
    by = by or []
    df = _time_norm(df, time_col)
    s = df.select(
        *by, time_bucket(time_col, every).alias("bucket"), F.col(value_col).alias("__v")
    )
    wrank = ordered([*by, "bucket"], "__v")
    wall = ordered([*by, "bucket"])
    r = s.select(
        *by, "bucket", "__v",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    lo = F.floor((F.col("__n") + 1) / 2)
    hi = F.ceil((F.col("__n") + 1) / 2)
    p95 = F.ceil(F.col("__n") * F.lit(0.95))
    p99 = F.ceil(F.col("__n") * F.lit(0.99))
    agg = r.groupBy(*by, "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__v").alias("vmin"),
        F.max(F.when(F.col("__rn") == lo, F.col("__v"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi, F.col("__v"))).alias("__hi"),
        F.max(F.when(F.col("__rn") == p95, F.col("__v"))).alias("p95"),
        F.max(F.when(F.col("__rn") == p99, F.col("__v"))).alias("p99"),
        F.max("__v").alias("vmax"),
    )
    return agg.select(
        *by, "bucket", "n", "vmin",
        ((F.col("__lo") + F.col("__hi")) / F.lit(2.0)).alias("p50"),
        "p95", "p99", "vmax",
    )


def error_episodes(
    df: DataFrame,
    error_type: str = "error",
    rate_threshold: float = 0.25,
    every: str = "1 hour",
    time_col: str = "time",
    type_col: str = "event_type",
) -> DataFrame:
    """Incident extraction: maximal runs of CONSECUTIVE buckets whose
    error-rate exceeds `rate_threshold`, with duration and peak —
    the step after [[ts_slo_burn]]'s alert: turn a rate stream into
    discrete incidents you can count, rank and post-mortem
    ([[ts_threshold_episodes]] runs on raw samples; this runs on the
    bucket-rate grid and requires consecutiveness on it).

    Integer bucket indices; islands via bucket_idx - row_number (the
    consecutive-integers trick, immune to missing buckets between
    incidents); the threshold compares the raw IEEE ratio (identical
    both engines), reported rates are floor-half-up. One bucket
    groupBy + one ordered window + one groupBy. Returns
    (start_bucket, end_bucket, n_buckets, total_events, total_errors,
    peak_rate)."""
    df = _time_norm(df, time_col)
    us_per = _interval_us(every)
    b = df.groupBy(
        F.floor(F.unix_micros(time_col) / F.lit(us_per)).alias("__b")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col(type_col) == error_type, 1).otherwise(0))
        .cast("long")
        .alias("__ne"),
    )
    rate = F.col("__ne").cast("double") / F.col("__n").cast("double")
    hot = b.filter(rate > F.lit(rate_threshold))
    w = ordered([], "__b")
    s = hot.select(
        "__b", "__n", "__ne",
        (F.col("__b") - F.row_number().over(w)).alias("__island"),
    )
    agg = s.groupBy("__island").agg(
        F.min("__b").alias("__b0"),
        F.max("__b").alias("__b1"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("__n").cast("long").alias("total_events"),
        F.sum("__ne").cast("long").alias("total_errors"),
        F.max(
            F.floor(
                F.col("__ne").cast("double") / F.col("__n").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("peak_rate"),
    )
    return agg.select(
        F.timestamp_micros(F.col("__b0") * F.lit(us_per)).alias(
            "start_bucket"
        ),
        F.timestamp_micros(F.col("__b1") * F.lit(us_per)).alias(
            "end_bucket"
        ),
        "n_buckets", "total_events", "total_errors", "peak_rate",
    )


def mttr_mtbf(
    df: DataFrame,
    error_type: str = "error",
    rate_threshold: float = 0.25,
    every: str = "1 hour",
    time_col: str = "time",
    type_col: str = "event_type",
) -> DataFrame:
    """MTTR / MTBF / availability from the [[ts_error_episodes]]
    incident stream — the three reliability KPIs an SRE review opens
    with (mean time to recover = mean incident duration; mean time
    between failures = mean start-to-start gap; availability = the
    fraction of grid buckets not inside an incident).

    Composes the incident extraction, then one lag + one aggregate
    over the |incidents|-bounded table, plus a one-row grid-bounds
    side for the availability denominator. All integer bucket
    arithmetic; floor-half-up ratios/hours. One summary row:
    (n_incidents, mttr_hours, mtbf_hours, hot_buckets, grid_buckets,
    availability)."""
    df = _time_norm(df, time_col)
    us_per = _interval_us(every)
    ep = error_episodes(
        df, error_type, rate_threshold, every, time_col, type_col
    )
    e = ep.select(
        (F.unix_micros("start_bucket") / F.lit(us_per))
        .cast("long")
        .alias("__b0"),
        (F.unix_micros("end_bucket") / F.lit(us_per))
        .cast("long")
        .alias("__b1"),
        "n_buckets",
    )
    w = ordered([], "__b0")
    g = e.select(
        "__b0", "n_buckets",
        (F.col("__b0") - F.lag("__b0").over(w)).alias("__gap"),
    )
    stats = g.agg(
        F.count(F.lit(1)).alias("n_incidents"),
        F.sum("n_buckets").cast("long").alias("hot_buckets"),
        F.sum("n_buckets").alias("__dur_sum"),
        F.count("__gap").alias("__n_gaps"),
        F.sum("__gap").alias("__gap_sum"),
    )
    bounds = df.agg(
        (
            (F.max(F.unix_micros(F.col(time_col))) / F.lit(us_per))
            .cast("long")
            - (F.min(F.unix_micros(F.col(time_col))) / F.lit(us_per))
            .cast("long")
            + 1
        ).alias("grid_buckets")
    )
    hours_per = us_per / 3_600_000_000

    def _r6(e2):
        return F.floor(e2 * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return stats.crossJoin(F.broadcast(bounds)).select(
        "n_incidents",
        _r6(
            F.col("__dur_sum").cast("double")
            / F.col("n_incidents").cast("double")
            * F.lit(float(hours_per))
        ).alias("mttr_hours"),
        F.when(
            F.col("__n_gaps") > 0,
            _r6(
                F.col("__gap_sum").cast("double")
                / F.col("__n_gaps").cast("double")
                * F.lit(float(hours_per))
            ),
        ).alias("mtbf_hours"),
        "hot_buckets",
        "grid_buckets",
        _r6(
            F.lit(1.0)
            - F.col("hot_buckets").cast("double")
            / F.col("grid_buckets").cast("double")
        ).alias("availability"),
    )


def exp_histogram(
    df: DataFrame,
    max_exp: int = 20,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Prometheus-style exponential (power-of-two `le`) histogram per
    key: counts per bucket value <= 2^k plus the cumulative series —
    the wire shape monitoring backends exchange, and the
    log-scale companion to [[ts_histogram]]'s fixed-width bins (a
    latency distribution spanning decades is unreadable on a linear
    grid). Bucket edges are exact integer-power literals compared
    with plain IEEE `<=` — a chained CASE, no log2/libm anywhere, so
    no engine pair can disagree at an edge. One map-side groupBy +
    one window over the <= max_exp+2 rows per key. Returns (*by, le,
    n, cum_n); the overflow bucket reports le = +Infinity."""
    by = by or []
    df = _time_norm(df, time_col)
    v = F.col(value_col)
    k_expr = F.lit(float("inf"))
    for k in range(max_exp, -1, -1):
        k_expr = F.when(v <= F.lit(float(2**k)), F.lit(float(2**k))).otherwise(
            k_expr
        )
    g = df.groupBy(*by, k_expr.alias("le")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = ordered(by, "le", rows=(None, 0))
    return g.select(*by, "le", "n", F.sum("n").over(w).alias("cum_n"))


def capacity_eta(
    df: DataFrame,
    limit: float,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Days until the robust trend line crosses `limit` — the
    capacity-planning ETA ("when does this disk/queue/latency hit the
    ceiling at its current trajectory"), composed over
    [[ts_trend_robust]]'s Theil-Sen fit so one spike can't fake an
    emergency. ETA = ((limit - intercept)/slope - t_now)/86400 with
    the rounded slope/intercept both engines already agree on; keys
    with slope <= 0 report NULL (no crossing on the current trend);
    negative days = the trend line is already past the limit. One
    extra 1-row bounds broadcast; floor-half-up days. Returns (*by,
    n_buckets, sen_slope_per_sec, current_trend_value,
    days_to_limit)."""
    by = by or []
    df = _time_norm(df, time_col)
    tr = theil_sen_trend(df, every, time_col, by, value_col)
    bounds = df.agg(
        (F.max(F.unix_micros(F.col(time_col))) / F.lit(1_000_000))
        .cast("long")
        .alias("__tnow")
    )
    j = tr.crossJoin(F.broadcast(bounds))
    slope = F.col("sen_slope_per_sec")
    cur = slope * F.col("__tnow").cast("double") + F.col("intercept")

    def _r6(e):
        return F.floor(e * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    days = (
        (
            (F.lit(limit) - F.col("intercept")) / slope
            - F.col("__tnow").cast("double")
        )
        / F.lit(86400.0)
    )
    return j.select(
        *by,
        "n_buckets",
        "sen_slope_per_sec",
        _r6(cur).alias("current_trend_value"),
        F.when(slope > 0, _r6(days)).alias("days_to_limit"),
    )


def burstiness(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Burstiness index per key (Goh & Barabasi 2008, EPL 81:48002):
    B = (sigma - mu) / (sigma + mu) over inter-arrival gaps — one
    number in [-1, 1] locating a stream between perfectly periodic
    (B = -1), Poisson (B = 0) and heavy-bursty (B -> 1). The
    single-dial companion to [[ts_cadence]]'s quantile table and
    [[ts_bursts]]'s per-bucket alerts.

    One lag window + one groupBy on the same key sort. Deterministic:
    integer-µs gaps, decimal(38,6)-accumulated sum and sum-of-squares
    rounded before the double mean/variance arithmetic (the
    embedding_dim_stats rule), population variance, IEEE sqrt.
    Keys with < 3 events are omitted. Returns (*by, n_gaps, mean_gap_us,
    std_gap_us, burstiness)."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []))
    gap = F.unix_micros(F.col(time_col)) - F.unix_micros(
        F.lag(time_col).over(w)
    )
    g = df.select(*by, gap.alias("__gap")).filter(F.col("__gap").isNotNull())
    agg = g.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.sum(F.col("__gap").cast("decimal(38,6)")), 6)
        .cast("double")
        .alias("__s1"),
        # the square stays in EXACT integer decimals: routing a
        # 1e20-magnitude double product through a decimal cast
        # diverged by engine (DuckDB rounds the cast in scaled-double
        # space, Spark via exact BigDecimal — caught live at sf0.001)
        F.sum(
            F.col("__gap").cast("decimal(19,0)")
            * F.col("__gap").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("__s2"),
    ).filter(F.col("n_gaps") >= 2)
    mu = F.col("__s1") / F.col("n_gaps")
    var = F.col("__s2") / F.col("n_gaps") - mu * mu
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))

    return agg.select(
        *by,
        "n_gaps",
        round6_half_up(mu).alias("mean_gap_us"),
        round6_half_up(sd).alias("std_gap_us"),
        F.round(
            F.try_divide(sd - mu, sd + mu), 6
        ).alias("burstiness"),
    )


def value_entropy(
    df: DataFrame,
    bin_width: float = 10.0,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Shannon entropy (nats) of each key's binned value distribution
    — the information-content dial that separates a rich signal from
    a near-constant one ([[ts_flatline]] catches literal constancy;
    this measures how close to it a metric lives, which predicts how
    well it compresses and whether it's worth alerting on).

    One (key, bin) groupBy with integer floor-division bins, per-key
    totals as a window over the bounded bin table, p*ln(p) terms
    quantized @8 pre-sum (the text_zipf libm contract). Returns
    (*by, n, n_bins, entropy_nats, entropy_ratio) where ratio
    normalizes by ln(n_bins) (NULL for single-bin keys)."""
    by = by or []
    df = _time_norm(df, time_col)
    g = df.groupBy(
        *by,
        F.floor(F.col(value_col) / F.lit(bin_width)).alias("__bin"),
    ).agg(F.count(F.lit(1)).alias("__n"))
    wk = ordered(by)
    tot = F.sum("__n").over(wk)
    p = F.col("__n").cast("double") / tot.cast("double")
    term = F.round(-(p * F.log(p)), 8).cast("decimal(30,8)")
    s = g.select(*by, F.col("__n"), term.alias("__t"))
    agg = s.groupBy(*by).agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.sum("__t").cast("double"), 6).alias("entropy_nats"),
    )
    return agg.select(
        *by, "n", "n_bins", "entropy_nats",
        F.when(
            F.col("n_bins") > 1,
            F.round(
                F.col("entropy_nats")
                / F.log(F.col("n_bins").cast("double")),
                6,
            ),
        ).alias("entropy_ratio"),
    )


def peak_to_mean(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Load factor per key: peak-bucket count over mean-bucket count
    — THE capacity-sizing number (a service provisioned for the mean
    falls over at the peak; peak/mean says by how much), with the
    peak bucket named for root-causing ([[ts_heatmap]] shows the
    shape; this is the single dial). One bucket groupBy + one groupBy
    over the calendar-bounded bucket table; deterministic peak pick
    (earliest bucket on count ties); floor-half-up ratio. Returns
    (*by, n_buckets, mean_per_bucket, peak_count, peak_bucket,
    peak_to_mean)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    pick = F.max(
        F.struct(
            F.col("n").alias("n"),
            (-F.unix_micros(F.col("bucket"))).alias("nb"),
            F.unix_micros(F.col("bucket")).alias("b"),
        )
    )
    agg = b.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n").alias("__tot"),
        pick.alias("__pk"),
    )

    def _r6(e):
        return F.floor(e * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    mean = F.col("__tot").cast("double") / F.col("n_buckets").cast("double")
    return agg.select(
        *by,
        "n_buckets",
        _r6(mean).alias("mean_per_bucket"),
        F.col("__pk.n").cast("long").alias("peak_count"),
        F.timestamp_micros(F.col("__pk.b")).alias("peak_bucket"),
        _r6(F.col("__pk.n").cast("double") / mean).alias("peak_to_mean"),
    )


def wow_compare(
    df: DataFrame,
    every: str = "1 hour",
    lookback: str = "1 week",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Same-time-last-week comparison per key per bucket: this
    bucket's mean vs the bucket exactly `lookback` earlier, with
    delta and percent change — the standard seasonal-aware dashboard
    row ("is Monday 9am up on LAST Monday 9am", where
    [[ts_top_movers]]' previous-bucket delta would just see the
    weekly swing). One bucket groupBy, then an equi-join of the
    calendar-bounded bucket table to itself on (key, bucket -
    lookback) — missing comparison buckets yield NULLs, never wrong
    pairs. Decimal bucket means; floor-half-up pct. Returns (*by,
    bucket, value, value_lookback, wow_delta, wow_pct)."""
    by = by or []
    df = _time_norm(df, time_col)
    lb_us = _interval_us(lookback)
    b = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 6)
            .cast("double")
            / F.count(value_col)
        ).alias("value")
    )
    prev = b.select(
        *by,
        F.timestamp_micros(
            F.unix_micros(F.col("bucket")) + F.lit(lb_us)
        ).alias("bucket"),
        F.col("value").alias("value_lookback"),
    )
    j = b.join(prev, [*by, "bucket"], "left")
    delta = F.col("value") - F.col("value_lookback")

    def _r6(e):
        return F.floor(e * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return j.select(
        *by, "bucket", "value", "value_lookback",
        F.round(delta, 6).alias("wow_delta"),
        F.when(
            F.col("value_lookback").isNotNull()
            & (F.abs(F.col("value_lookback")) > 0),
            _r6(delta / F.abs(F.col("value_lookback"))),
        ).alias("wow_pct"),
    )


def slot_anomaly(
    df: DataFrame,
    z_cut: float = 3.0,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Calendar-slot anomaly detection: each sample scored against
    its OWN (ISO weekday, hour) slot's historical mean/std — the
    seasonal-aware baseline ([[ts_hampel]]'s trailing window flags
    every Monday-morning ramp as a spike; this one knows Mondays at
    9 are supposed to look like Mondays at 9). Slot statistics are
    decimal-accumulated sums / quantized squared sums over one
    (key, weekday, hour) groupBy-as-window pass (the at-most-168
    slots per key ship aggregates, not rows); samples in slots with
    < 5 observations or zero variance never flag (documented).
    Returns flagged rows only: (*by, ts, value, slot_weekday,
    slot_hour, slot_mean, slot_std, zscore)."""
    by = by or []
    df = _time_norm(df, time_col)
    dow = F.when(
        F.dayofweek(F.col(time_col)) == 1, F.lit(7)
    ).otherwise(F.dayofweek(F.col(time_col)) - 1)
    s = df.select(
        *by,
        F.col(time_col),
        F.col(value_col),
        dow.cast("long").alias("__wd"),
        F.hour(F.col(time_col)).cast("long").alias("__hr"),
    )
    w = ordered([*by, "__wd", "__hr"])
    n = F.count(value_col).over(w)
    s1 = (
        F.round(F.sum(F.col(value_col).cast("decimal(30,8)")).over(w), 6)
        .cast("double")
    )
    s2 = (
        F.round(
            F.sum(
                (F.col(value_col) * F.col(value_col)).cast("decimal(38,8)")
            ).over(w),
            6,
        )
        .cast("double")
    )
    s2c = s.select(
        *by, F.col(time_col), F.col(value_col), "__wd", "__hr",
        n.alias("__n"), s1.alias("__s1"), s2.alias("__s2"),
    )
    mean = F.col("__s1") / F.col("__n")
    var = F.col("__s2") / F.col("__n") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col(value_col) - mean) / sd
    return (
        s2c.filter((F.col("__n") >= 5) & (sd > 0))
        .select(
            *by, F.col(time_col), F.col(value_col),
            F.col("__wd").alias("slot_weekday"),
            F.col("__hr").alias("slot_hour"),
            F.round(mean, 6).alias("slot_mean"),
            F.round(sd, 6).alias("slot_std"),
            F.round(z, 6).alias("zscore"),
        )
        .filter(F.abs("zscore") > F.lit(z_cut))
    )


def ljung_box(
    df: DataFrame,
    lags: int = 5,
    period: int = 25,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Ljung-Box residual-whiteness test (Ljung & Box 1978,
    Biometrika 65:297) on the [[ts_decompose]] residuals: Q = n(n+2)
    * sum_k rho_k^2 / (n-k) over lags 1..L — the "did the model leave
    structure on the table" diagnostic that closes the decomposition
    loop (significant Q = the trend+seasonal fit missed something
    [[ts_pacf]] can then identify). The chi-square(L) 5% critical
    value ships as a published constant (11.0705 for L=5).

    Shape: the decompose windows, then the join-free acf lag pass on
    residuals (round@4, the ts_acf rule), then pure arithmetic on one
    row per key — identical IEEE op order both engines. Keys whose
    residual acf is undefined report NULL Q. Returns (*by, n_resid,
    q_stat, q_crit_5pct, residuals_autocorrelated)."""
    by = by or []
    d = decompose_classical(
        df, period, time_col, by, value_col, order_tiebreak
    ).filter(F.col("residual").isNotNull())
    a = acf(
        d, lags=lags, time_col=time_col, by=by, value_col="residual",
        order_tiebreak=order_tiebreak,
    )
    cnt = d.groupBy(*by).agg(F.count(F.lit(1)).alias("n_resid"))
    j = a.join(cnt, by) if by else a.crossJoin(cnt)
    n = F.col("n_resid").cast("double")
    q = F.lit(0.0)
    for k in range(1, lags + 1):
        q = q + (F.col(f"acf_{k}") * F.col(f"acf_{k}")) / (n - F.lit(float(k)))
    q = n * (n + F.lit(2.0)) * q
    crit = {5: 11.0705}.get(lags)
    if crit is None:
        raise ValueError("ship the chi-square critical value for this L")
    return j.select(
        *by,
        "n_resid",
        F.round(q, 6).alias("q_stat"),
        F.lit(crit).alias("q_crit_5pct"),
        (F.round(q, 6) > F.lit(crit)).alias("residuals_autocorrelated"),
    )


def fano_factor(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Fano factor per key: variance-to-mean ratio of bucket counts —
    the count-domain overdispersion dial (Poisson arrivals give F = 1;
    F >> 1 = clumped/bursty, F < 1 = regularized/rate-limited), the
    bucket-count companion to [[ts_burstiness]]'s gap-domain index.
    Zero-count buckets INSIDE the key's own [first, last] range count
    (a stream that fires 20 events every 4th hour is clumped; scoring
    only observed buckets would call it regular) — no densify needed:
    zeros contribute nothing to the sums, so the dense-grid variance
    is s2/B - (s1/B)^2 with B = the expected bucket count. One bucket
    groupBy + one groupBy; all-integer sums, one final division.
    Returns (*by, n_buckets, mean_count, var_count, fano)."""
    by = by or []
    df = _time_norm(df, time_col)
    us_per = _interval_us(every)
    b = df.groupBy(
        *by,
        F.floor(F.unix_micros(time_col) / F.lit(us_per)).alias("__b"),
    ).agg(F.count(F.lit(1)).alias("n"))
    agg = b.groupBy(*by).agg(
        (F.max("__b") - F.min("__b") + 1).alias("n_buckets"),
        F.sum("n").cast("long").alias("__s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("__s2"),
    )
    m = F.col("__s1").cast("double") / F.col("n_buckets").cast("double")
    var = (
        F.col("__s2").cast("double") / F.col("n_buckets").cast("double")
        - m * m
    )

    def _r6(e):
        return F.floor(e * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return agg.select(
        *by,
        "n_buckets",
        _r6(m).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(F.try_divide(var, m), 6).alias("fano"),
    )


def staleness(
    df: DataFrame,
    stale_factor: float = 3.0,
    time_col: str = "time",
    by: list[str] | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Feed-liveness check per key: the age of the newest sample
    (against the corpus' own latest timestamp — data-anchored, so the
    result is reproducible) compared to the key's OWN median
    inter-arrival gap from [[ts_cadence]] — a key whose silence
    exceeds `stale_factor` x its normal cadence is stale ("this topic
    stopped arriving"), the check a TSDB runs before trusting any
    just-in-time dashboard. Composes the cadence rank quantiles + a
    1-row anchor broadcast; all-integer ages, one double ratio.
    Returns (*by, last_ts, age_us, median_gap_us, age_over_median,
    is_stale)."""
    by = by or []
    df = _time_norm(df, time_col)
    cad = cadence(df, time_col, by, order_tiebreak)
    last = df.groupBy(*by).agg(
        F.max(F.unix_micros(F.col(time_col))).alias("__last")
    )
    anchor = df.agg(
        F.max(F.unix_micros(F.col(time_col))).alias("__now")
    )
    med = cad.select(*by, "median_gap_us")
    # empty `by` must be an explicit 1-row crossJoin, not a join on []
    # (which degenerates to a cross join only by accident) — the same
    # guard ljung_box uses for its global case
    j = (last.join(med, by) if by else last.crossJoin(med)).crossJoin(
        F.broadcast(anchor)
    )
    age = F.col("__now") - F.col("__last")
    ratio = F.round(
        F.try_divide(age.cast("double"), F.col("median_gap_us")), 6
    )
    return j.select(
        *by,
        F.timestamp_micros(F.col("__last")).alias("last_ts"),
        age.alias("age_us"),
        "median_gap_us",
        ratio.alias("age_over_median"),
        (ratio > F.lit(stale_factor)).alias("is_stale"),
    )


def peak_hour_consistency(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Daily-peak stability per key: each day's busiest hour (struct
    argmax, earliest hour on count ties), then how consistently the
    SAME hour wins across days — the "can we schedule around the
    peak" readout ([[ts_peak_to_mean]] sizes the peak; this says
    whether it's predictable; [[ts_heatmap]] shows the full surface).
    Two map-side groupBys over the calendar-bounded (day, hour) grid
    + one argmax per key; floor-half-up share. Returns (*by, n_days,
    modal_peak_hour, n_days_at_mode, consistency)."""
    by = by or []
    df = _time_norm(df, time_col)
    dh = df.groupBy(
        *by,
        F.date_trunc("day", F.col(time_col)).alias("__day"),
        F.hour(F.col(time_col)).alias("__hr"),
    ).agg(F.count(F.lit(1)).alias("__n"))
    day_peak = dh.groupBy(*by, "__day").agg(
        F.max(
            F.struct(
                F.col("__n").alias("n"),
                (-F.col("__hr")).alias("nh"),
                F.col("__hr").alias("hr"),
            )
        ).alias("__pk")
    ).select(*by, "__day", F.col("__pk.hr").alias("__peak_hr"))
    mode = day_peak.groupBy(*by, "__peak_hr").agg(
        F.count(F.lit(1)).alias("__c")
    )
    pick = F.max(
        F.struct(
            F.col("__c").alias("c"),
            (-F.col("__peak_hr")).alias("nh"),
            F.col("__peak_hr").alias("hr"),
        )
    )
    agg = mode.groupBy(*by).agg(
        F.sum("__c").cast("long").alias("n_days"), pick.alias("__m")
    )
    return agg.select(
        *by,
        "n_days",
        F.col("__m.hr").cast("long").alias("modal_peak_hour"),
        F.col("__m.c").cast("long").alias("n_days_at_mode"),
        (
            F.floor(
                F.col("__m.c").cast("double")
                / F.col("n_days").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("consistency"),
    )


def cusum_chart(
    df: DataFrame,
    k_slack: float = 0.5,
    h_limit: float = 5.0,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Tabular CUSUM control chart per key (Page 1954): standardized
    bucket means folded into one-sided upper/lower cumulative sums
    S+ = max(0, S+ + (z - k)), S- = max(0, S- - (z + k)), alarm when
    either exceeds h — the drift detector that catches slow mean
    shifts [[ts_sliding]]'s z-score misses (a 0.5-sigma creep never
    trips a pointwise threshold but accumulates here; complements
    [[ts_changepoint]], which locates a single break offline).

    Shape: one bucket groupBy, per-key mean/sigma as windows on the
    same key partitioning (decimal sums, per-term quantized variance
    — the seasonal_strength rule), then the inherently-sequential
    fold as one Arrow batch per key (the [[ts_ewma]] shape: parallel
    ACROSS keys, sequential within — at 100 TB the fold input is
    |keys| x |buckets|, not raw rows). z and the fold are plain IEEE
    doubles in a fixed op order, so the recursive-CTE oracle replays
    them bit-exactly. Flatline keys (sigma = 0) carry no drift signal
    and are excluded (documented). Returns (*by, bucket, value, z,
    cusum_pos, cusum_neg, alarm)."""
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType, DoubleType, StructField, StructType, TimestampType,
    )

    by = by or []
    df = _time_norm(df, time_col)
    b = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("value")
    )
    wk = ordered(by)
    mu = (
        F.round(F.sum(F.col("value").cast("decimal(30,8)")).over(wk), 4)
        .cast("double")
        / F.count("value").over(wk)
    )
    m = b.select(*by, "bucket", "value", mu.alias("__mu"))
    term = F.round(
        (F.col("value") - F.col("__mu")) * (F.col("value") - F.col("__mu")),
        6,
    ).cast("decimal(30,6)")
    sigma = F.sqrt(
        F.sum(term).over(wk).cast("double") / F.count("value").over(wk)
    )
    z = m.select(
        *by, "bucket", "value",
        ((F.col("value") - F.col("__mu")) / sigma).alias("z"),
        sigma.alias("__sg"),
    ).filter(F.col("__sg") > 0).drop("__sg")

    out_schema = StructType(
        [f for f in df.schema.fields if f.name in by]
        + [
            StructField("bucket", TimestampType()),
            StructField("value", DoubleType()),
            StructField("z", DoubleType()),
            StructField("cusum_pos", DoubleType()),
            StructField("cusum_neg", DoubleType()),
            StructField("alarm", BooleanType()),
        ]
    )
    kk, hh = float(k_slack), float(h_limit)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        zs = pdf["z"].to_numpy(dtype=float)
        sp = sn = 0.0
        pos, neg = [], []
        for zv in zs:
            sp = max(0.0, sp + (zv - kk))
            sn = max(0.0, sn - (zv + kk))
            pos.append(sp)
            neg.append(sn)
        pdf["cusum_pos"] = pos
        pdf["cusum_neg"] = neg
        pdf["alarm"] = [(p > hh) or (q > hh) for p, q in zip(pos, neg)]
        return pdf[[f.name for f in out_schema.fields]]

    return _per_key(z, by, ["bucket"], per_key, out_schema)


def gapfill_eval(
    df: DataFrame,
    every: str = "1 hour",
    holdout_mod: int = 5,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Imputation-quality backtest for the gapfill family: mask every
    `holdout_mod`-th OBSERVED bucket (deterministic — bucket index mod,
    no RNG), impute the masked points from the remaining buckets with
    both [[ts_gapfill]] (LOCF) and [[ts_gapfill_linear]] arithmetic,
    and score each method's MAE against the held-out truth — the "can
    I trust gapfill on THIS feed" readout that turns an imputation
    choice into a measured decision ([[ts_completeness]] says how much
    filling is needed; this says how wrong it will be).

    Shape: one bucket groupBy, then both predictions from TWO ignore-
    nulls windows over the same key partitioning (train values seen
    through a hold-masked CASE — no self-join, no second scan), both
    methods folded into ONE aggregate and unpivoted. Linear term
    rounds @6 (the gapfill_linear rule); MAE is a per-term-quantized
    decimal mean. Masked points before the first / after the last
    train bucket have no prediction and are excluded (documented).
    Returns (*by, method, n_eval, mae)."""
    by = by or []
    df = _time_norm(df, time_col)
    us = _interval_us(every)
    b = df.groupBy(time_bucket(time_col, every).alias("bucket"), *by).agg(
        _dec_avg(value_col).alias("value")
    ).filter(F.col("value").isNotNull())
    idx = F.floor(F.unix_micros(F.col("bucket")) / F.lit(us)).cast("long")
    t = b.select(
        *by, "bucket", "value", (idx % holdout_mod == 0).alias("__hold")
    )
    train_val = F.when(~F.col("__hold"), F.col("value"))
    train_pos = F.when(~F.col("__hold"), F.unix_micros(F.col("bucket")))
    wa = ordered(by, "bucket", rows=(None, 0))
    wb = ordered(by, "bucket", rows=(0, None))
    wnd = t.select(
        *by, "bucket", "value", "__hold",
        F.last(train_val, ignorenulls=True).over(wa).alias("__pv"),
        F.first(train_val, ignorenulls=True).over(wb).alias("__nv"),
        F.last(train_pos, ignorenulls=True).over(wa).alias("__pp"),
        F.first(train_pos, ignorenulls=True).over(wb).alias("__np"),
    ).filter(F.col("__hold"))
    lin = F.round(
        F.col("__pv")
        + (F.col("__nv") - F.col("__pv"))
        * (
            (F.unix_micros(F.col("bucket")) - F.col("__pp")).cast("double")
            / (F.col("__np") - F.col("__pp")).cast("double")
        ),
        6,
    )
    e_locf = F.when(
        F.col("__pv").isNotNull(),
        F.round(F.abs(F.col("__pv") - F.col("value")), 6).cast(
            "decimal(30,6)"
        ),
    )
    e_lin = F.when(
        F.col("__pv").isNotNull() & F.col("__nv").isNotNull(),
        F.round(F.abs(lin - F.col("value")), 6).cast("decimal(30,6)"),
    )
    agg = wnd.select(
        *by, e_locf.alias("__el"), e_lin.alias("__en")
    ).groupBy(*by).agg(
        F.count("__el").alias("__nl"),
        F.sum("__el").alias("__sl"),
        F.count("__en").alias("__nn"),
        F.sum("__en").alias("__sn"),
    )

    def mae(s, n):
        return F.round(s.cast("double") / n.cast("double"), 6)

    rows = F.array(
        F.struct(
            F.lit("locf").alias("method"),
            F.col("__nl").alias("n_eval"),
            mae(F.col("__sl"), F.col("__nl")).alias("mae"),
        ),
        F.struct(
            F.lit("linear").alias("method"),
            F.col("__nn").alias("n_eval"),
            mae(F.col("__sn"), F.col("__nn")).alias("mae"),
        ),
    )
    return agg.select(*by, F.explode(rows).alias("__m")).select(
        *by,
        F.col("__m.method").alias("method"),
        F.col("__m.n_eval").alias("n_eval"),
        F.col("__m.mae").alias("mae"),
    )


def concurrency(
    df: DataFrame,
    gap: timedelta = timedelta(minutes=30),
    every: str = "1 hour",
    time_col: str = "time",
    user_col: str = "user_id",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Concurrent-session profile: how many sessions are open at once,
    per time bucket — the capacity-planning readout ([[ts_capacity_eta]]
    projects volume; this measures PARALLELISM, which is what
    connection pools, license seats, and autoscalers are actually
    sized against). Sessions come from [[ts_session]]'s gap rule.

    Scale shape: the classic +1/-1 sweep, two-level so no global sort
    of events is needed — each session explodes to two change rows,
    the running sum runs WITHIN each bucket (keyed shuffle), and the
    cross-bucket carry is a window over the tiny |buckets| table
    (hours-in-range rows, not event rows). All-integer. Tie rule:
    starts count before ends at the same microsecond, so a session
    ending exactly when another starts overlaps at that instant.
    Emits only buckets containing a session boundary (a flat stretch
    between boundaries has no row — its level is the previous row's
    carry + net). Returns (bucket, n_starts, n_ends, carry_in,
    max_concurrent)."""
    s = sessionize(df, gap, time_col, [user_col], order_tiebreak)
    changes = s.select(
        F.col(user_col).alias("__u"),
        "session_seq",
        F.explode(
            F.array(
                F.struct(
                    F.col("session_start").alias("t"),
                    F.lit(1).cast("long").alias("d"),
                ),
                F.struct(
                    F.col("session_end").alias("t"),
                    F.lit(-1).cast("long").alias("d"),
                ),
            )
        ).alias("__c"),
    ).select("__u", "session_seq", F.col("__c.t").alias("t"),
             F.col("__c.d").alias("d"))
    b = changes.withColumn("bucket", time_bucket("t", every))
    win = ordered("bucket", "t", F.col("d").desc_nulls_last(), "__u",
                  "session_seq", rows=(None, 0))
    rs = b.select("bucket", "d", F.sum("d").over(win).alias("__rs"))
    per_bucket = rs.groupBy("bucket").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("long").alias(
            "n_starts"
        ),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).cast("long").alias(
            "n_ends"
        ),
        F.sum("d").cast("long").alias("__net"),
        F.max("__rs").cast("long").alias("__peak"),
    )
    wcarry = ordered([], "bucket", rows=(None, -1))
    return per_bucket.select(
        "bucket", "n_starts", "n_ends",
        F.coalesce(F.sum("__net").over(wcarry), F.lit(0)).cast("long").alias(
            "carry_in"
        ),
        (
            F.coalesce(F.sum("__net").over(wcarry), F.lit(0))
            + F.col("__peak")
        ).cast("long").alias("max_concurrent"),
    )


def late_arrivals(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    arrival_col: str = "event_id",
) -> DataFrame:
    """Out-of-order-arrival audit per key: how often event time runs
    BACKWARD along the arrival order (`arrival_col` — the append
    sequence), and by how much — the measurement that sizes a
    streaming watermark ([[streaming ingest]] guesses "2 hours"; this
    says what the feed actually does, so the guess becomes a
    percentile choice). An event is late when some earlier-arrived
    event of the same key carries a STRICTLY newer timestamp.

    One running-max window over the arrival order per key (same
    partitioning as the final groupBy — one shuffle end to end);
    all-integer microsecond arithmetic, avg as exact integer
    division. Returns (*by, n, n_late, late_frac, max_late_us,
    avg_late_us)."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, arrival_col, rows=(None, -1))
    t = F.unix_micros(F.col(time_col))
    prev_max = F.max(t).over(w)
    lateness = F.when(prev_max > t, prev_max - t).otherwise(F.lit(0))
    marked = df.select(
        *by,
        lateness.alias("__late_us"),
    )
    agg = marked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__late_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max("__late_us").cast("long").alias("max_late_us"),
        F.sum("__late_us").cast("long").alias("__sum_late"),
    )
    return agg.select(
        *by, "n", "n_late",
        (
            F.floor(
                F.col("n_late").cast("double") / F.col("n").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("late_frac"),
        "max_late_us",
        F.when(
            F.col("n_late") > 0,
            F.expr("__sum_late div n_late"),
        ).otherwise(F.lit(0)).cast("long").alias("avg_late_us"),
    )


def histogram_quantile(
    df: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    max_exp: int = 20,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Prometheus `histogram_quantile` over [[ts_exp_histogram]]'s
    cumulative power-of-two buckets: rank = q * total, pick the first
    bucket whose cumulative count reaches it, interpolate linearly
    inside the bucket — the arithmetic every PromQL latency SLO board
    runs, computed from the SAME wire shape a scrape exports (exact
    [[ts_percentile_bands]] needs the raw samples; this needs only
    the histogram — which is all a monitoring backend keeps).

    The +Inf bucket returns its lower edge (the Prometheus rule: you
    cannot interpolate into an unbounded bucket). Shape: the
    histogram's key windows + one struct-min argmin per (key, q) on
    the same key partitioning; bucket edges are exact integer-power
    literals. Returns (*by, q, total, le_bucket, quantile)."""
    by = by or []
    h = exp_histogram(df, max_exp, time_col, by, value_col)
    wk = ordered(by)
    wlag = ordered(by, "le")
    # Lower edge comes from the bucket SCHEMA (le/2 — every power-of-
    # two bucket is exported), not lag() over non-empty buckets:
    # Prometheus interpolates from the adjacent bound even when the
    # intermediate buckets are empty (counts at le=2 and le=16 with
    # nothing between interpolate from 8, not 2). lag(cum_n) stays a
    # window: empty buckets don't change the cumulative count, so the
    # previous non-empty bucket's cum_n IS the count below le/2.
    e = h.select(
        *by, "le", "n", "cum_n",
        F.max("cum_n").over(wk).alias("__total"),
        F.when(F.col("le") == F.lit(1.0), F.lit(0.0))
        .otherwise(F.col("le") / F.lit(2.0)).alias("__lo"),
        F.coalesce(F.lag("cum_n").over(wlag), F.lit(0)).alias("__pc"),
    )
    x = e.select(
        *by, "le", "n", "cum_n", "__total", "__lo", "__pc",
        F.explode(
            F.array(*[F.lit(float(q)) for q in qs])
        ).alias("q"),
    ).filter(
        F.col("cum_n").cast("double") >= F.col("q") * F.col("__total")
    )
    pick = F.min(
        F.struct(
            F.col("le").alias("le"),
            F.col("__lo").alias("lo"),
            F.col("__pc").alias("pc"),
            F.col("n").alias("nb"),
            F.col("__total").alias("total"),
        )
    )
    agg = x.groupBy(*by, "q").agg(pick.alias("__b"))
    rank = F.col("q") * F.col("__b.total").cast("double")
    # Inf bucket: its lower edge is the SCHEMA's top finite bound
    # (2^max_exp), not the previous non-empty bucket — Prometheus
    # returns that bound whether or not intermediate buckets are empty
    quant = F.when(
        F.col("__b.le") == F.lit(float("inf")),
        F.lit(float(2**max_exp)),
    ).otherwise(
        F.round(
            F.col("__b.lo")
            + (F.col("__b.le") - F.col("__b.lo"))
            * (
                (rank - F.col("__b.pc").cast("double"))
                / F.col("__b.nb").cast("double")
            ),
            6,
        )
    )
    return agg.select(
        *by, "q",
        F.col("__b.total").cast("long").alias("total"),
        F.col("__b.le").alias("le_bucket"),
        quant.alias("quantile"),
    )


def quantile_sketch_audit(
    df: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.99),
    accuracy: int = 1000,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Accuracy audit of Spark's approx_percentile sketch against the
    exact nearest-rank percentile per key: computes both, then checks
    the sketch's RANK error against its contractual bound
    (|rank(approx) - q*n| <= n/accuracy, +1 slack for the
    nearest-rank convention) — the harness that justifies switching a
    100 TB dashboard from the exact two-shuffle percentile to the
    mergeable single-pass sketch ([[agg_dau_approx]] made the same
    case for HLL counts). The sketch value itself is engine-specific,
    so the oracle pins (n, exact_value) exactly and the contract
    boolean as the constant it must equal — a sketch that ever
    violated its bound would hash-mismatch.

    Shape: ONE scan feeds both the rank window and the sketch agg
    (same key partitioning); the rank of the approx value costs one
    more pass over the raw values. Returns (*by, q, n, exact_value,
    within_guarantee)."""
    by = by or []
    df = _time_norm(df, time_col)
    # NULL values break the rank arithmetic (row_number orders NULLS
    # FIRST but count(value) excludes them — ceil(q*n) would land on a
    # shifted or NULL row); drop them before ranking, like apdex
    df = df.filter(F.col(value_col).isNotNull())
    wrank = ordered(by, value_col)
    wall = ordered(by)
    r = df.select(
        *by,
        F.col(value_col).alias("__v"),
        F.row_number().over(wrank).alias("__rn"),
        F.count(value_col).over(wall).alias("__n"),
    )
    q_arr = [float(q) for q in qs]
    agg = r.groupBy(*by).agg(
        F.max("__n").alias("n"),
        *[
            F.max(
                F.when(
                    F.col("__rn")
                    == F.greatest(
                        F.lit(1),
                        F.ceil(F.lit(q) * F.col("__n")).cast("long"),
                    ),
                    F.col("__v"),
                )
            ).alias(f"__ex{i}")
            for i, q in enumerate(q_arr)
        ],
        F.percentile_approx(
            "__v", F.array(*[F.lit(q) for q in q_arr]), F.lit(accuracy)
        ).alias("__apx"),
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"),
                    F.col(f"__ex{i}").alias("exact_value"),
                    F.col("__apx")[i].alias("__a"),
                )
                for i, q in enumerate(q_arr)
            ]
        )
    )
    per_q = agg.select(*by, "n", rows.alias("__r")).select(
        *by, "n",
        F.col("__r.q").alias("q"),
        F.col("__r.exact_value").alias("exact_value"),
        F.col("__r.__a").alias("__a"),
    )
    raw = df.select(*by, F.col(value_col).alias("__v"))
    # empty `by` must be an explicit crossJoin (the staleness rule)
    joined = raw.join(per_q, by) if by else raw.crossJoin(per_q)
    ranks = (
        joined
        .groupBy(*by, "q", "n", "exact_value")
        .agg(
            F.sum(F.when(F.col("__v") <= F.col("__a"), 1).otherwise(0))
            .cast("long")
            .alias("__n_le")
        )
    )
    bound = F.col("n").cast("double") / F.lit(float(accuracy)) + F.lit(1.0)
    return ranks.select(
        *by, "q", "n", "exact_value",
        (
            F.abs(
                F.col("__n_le").cast("double")
                - F.col("q") * F.col("n").cast("double")
            )
            <= bound
        ).alias("within_guarantee"),
    )


def range_audit(
    df: DataFrame,
    lo: float,
    hi: float,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Physical-bounds violation audit per key: samples outside the
    declared [lo, hi] envelope, split below/above, with the first and
    last violation timestamps — the sensor-sanity check that runs
    BEFORE statistical screens ([[ts_hampel]] flags outliers relative
    to neighbors; this flags values that are IMPOSSIBLE, where the
    fix is the ingest pipeline, not the model). One map-side-combined
    groupBy, all-integer counts. Returns (*by, n, n_below, n_above,
    violation_frac, first_violation_ts, last_violation_ts)."""
    by = by or []
    df = _time_norm(df, time_col)
    v = F.col(value_col)
    viol = (v < lo) | (v > hi)
    agg = df.groupBy(*by).agg(
        F.count(value_col).alias("n"),
        F.sum(F.when(v < lo, 1).otherwise(0)).cast("long").alias("n_below"),
        F.sum(F.when(v > hi, 1).otherwise(0)).cast("long").alias("n_above"),
        F.min(F.when(viol, F.col(time_col))).alias("first_violation_ts"),
        F.max(F.when(viol, F.col(time_col))).alias("last_violation_ts"),
    )
    return agg.select(
        *by, "n", "n_below", "n_above",
        (
            F.floor(
                (F.col("n_below") + F.col("n_above")).cast("double")
                / F.col("n").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("violation_frac"),
        "first_violation_ts", "last_violation_ts",
    )


def ewma_control(
    df: DataFrame,
    alpha: float = 0.3,
    l_limit: float = 3.0,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """EWMA control chart per key (Roberts 1959): the smoothed bucket
    series against steady-state control limits mu +/- L * sigma *
    sqrt(alpha / (2 - alpha)) — the SPC chart tuned for SMALL
    sustained shifts ([[ts_cusum]] accumulates them; this smooths
    them; pointwise z-scores miss them). Steady-state limits (the
    large-t asymptote) keep the arithmetic a closed-form literal —
    no per-row pow(), so the recursive-CTE oracle replays everything
    bit-exactly.

    Shape: one bucket groupBy, the [[ts_ewma]] per-key Arrow fold
    over the bucket series (parallel across keys), mu/sigma as key
    windows with the established decimal quantization. Returns
    (*by, bucket, value, ewma, center, lcl, ucl, alarm)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.groupBy(time_bucket(time_col, every).alias("bucket"), *by).agg(
        _dec_avg(value_col).alias("value")
    ).filter(F.col("value").isNotNull())
    eb = ewma(b, alpha, "bucket", by, "value")
    wk = ordered(by)
    mu = (
        F.round(F.sum(F.col("value").cast("decimal(30,8)")).over(wk), 4)
        .cast("double")
        / F.count("value").over(wk)
    )
    m = eb.select(*by, "bucket", "value", "ewma", mu.alias("__mu"))
    term = F.round(
        (F.col("value") - F.col("__mu")) * (F.col("value") - F.col("__mu")),
        6,
    ).cast("decimal(30,6)")
    sigma = F.sqrt(
        F.sum(term).over(wk).cast("double") / F.count("value").over(wk)
    )
    import math

    width = float(l_limit) * math.sqrt(alpha / (2.0 - alpha))
    lim = F.lit(width) * sigma
    return m.select(
        *by, "bucket", "value", "ewma",
        F.col("__mu").alias("center"),
        (F.col("__mu") - lim).alias("lcl"),
        (F.col("__mu") + lim).alias("ucl"),
        (
            (F.col("ewma") < F.col("__mu") - lim)
            | (F.col("ewma") > F.col("__mu") + lim)
        ).alias("alarm"),
    )


def availability(
    df: DataFrame,
    max_error_rate: float = 0.5,
    every: str = "1 hour",
    time_col: str = "time",
    error_col: str = "event_type",
    error_value: str = "error",
) -> DataFrame:
    """Availability headline: the fraction of buckets whose error
    rate stays under `max_error_rate` ("three nines", measured), plus
    the longest consecutive DOWN run — the SLA number next to
    [[ts_slo_burn]]'s pager math and [[ts_mttr]]'s incident stats
    (burn says how fast budget dies; this is the quarterly report
    line). The bucket grid is DENSIFIED over [min, max] bucket: an
    empty bucket (zero events — a total outage produces exactly this)
    counts as DOWN and extends the down-run, so a full blackout can't
    read as 100% availability. One bucket groupBy + a 1-row bounds
    grid join + one lag window + one aggregate; all-integer counts.
    Returns one row: (n_buckets, n_down, availability,
    longest_down_run)."""
    df = _time_norm(df, time_col)
    b = df.groupBy(
        time_bucket(time_col, every).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col(error_col) == error_value, 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    ).localCheckpoint(eager=False)  # bucket table is tiny; 3 branches
    # (grid bounds, totals, runs) must not re-scan the raw events
    # densify: the calendar grid between the first and last observed
    # bucket (1-row agg exploded — tiny), left-joined onto the counts
    grid = b.agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    ).select(
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {every}")
            )
        ).alias("bucket")
    )
    b = grid.join(b, "bucket", "left")
    down = F.coalesce(
        F.col("n_err").cast("double") / F.col("n").cast("double")
        > F.lit(max_error_rate),
        F.lit(True),  # empty bucket: no traffic at all = down
    )
    w = ordered([], "bucket", rows=(None, 0))
    s = b.select("bucket", down.alias("__down")).select(
        "__down",
        F.sum(F.when(~F.col("__down"), 1).otherwise(0))
        .over(w)
        .alias("__grp"),
    )
    runs = (
        s.filter(F.col("__down"))
        .groupBy("__grp")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    tot = b.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(down, 1).otherwise(0)).cast("long").alias("n_down"),
    )
    longest = runs.agg(
        F.coalesce(F.max("__run"), F.lit(0)).cast("long").alias(
            "longest_down_run"
        )
    )
    return tot.crossJoin(F.broadcast(longest)).select(
        "n_buckets", "n_down",
        (
            F.floor(
                (F.col("n_buckets") - F.col("n_down")).cast("double")
                / F.col("n_buckets").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("availability"),
        "longest_down_run",
    )


def _matrix_profile_arrow(b: DataFrame, w: int, excl: int,
                          by: list[str]) -> DataFrame:
    """Dense-grid matrix-profile scan: the O(nsub²·w) grid per key in
    numpy behind the _per_key boundary, bit-identical to the nested
    higher-order-function JVM grid the tests keep as the reference.

    IEEE parity is the whole design: the w dimension runs as an
    explicit k-loop (`acc += t*t`, 0.0-init) so every per-pair fold
    accumulates in the oracle's exact left-to-right order — numpy's
    own axis-sum uses pairwise blocking and would drift in the last
    ulp. Window means/sigmas accumulate the same way. np.argmin
    returns the FIRST minimum, matching the strict-< fold's
    earliest-neighbor tie rule; excluded pairs carry a 1e308
    sentinel. sqrt + round@6 happen Spark-side, replayed by the
    oracle.

    The i-axis runs in blocks (~4M pairs) to bound peak memory at
    ~100 MB per task regardless of nsub; keys parallelize across
    tasks."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [f for f in b.schema if f.name in by]
        + [
            T.StructField("idx", T.LongType()),
            T.StructField("bucket", T.TimestampType()),
            T.StructField("__d2", T.DoubleType()),
            T.StructField("__j", T.LongType()),
        ]
    )

    def profile(pdf: pd.DataFrame) -> pd.DataFrame | None:
        vals = pdf["__v"].to_numpy(dtype=np.float64)
        n = len(vals)
        nsub = n - w + 1
        if nsub < 1:
            return None
        # window mean/sigma, accumulated k = 0..w-1 left-to-right
        acc = np.zeros(nsub)
        for k in range(w):
            acc = acc + vals[k:k + nsub]
        mu = acc / float(w)
        dev = np.zeros(nsub)
        for k in range(w):
            t = vals[k:k + nsub] - mu
            dev = dev + t * t
        sg = np.maximum(np.sqrt(np.maximum(dev / float(w), 0.0)), 1e-12)
        z = [(vals[k:k + nsub] - mu) / sg for k in range(w)]
        best = np.full(nsub, 1e308)
        bestj = np.full(nsub, -1, dtype=np.int64)
        jj = np.arange(nsub)
        bi = max(1, 4_000_000 // nsub)
        for i0 in range(0, nsub, bi):
            i1 = min(i0 + bi, nsub)
            d2 = np.zeros((i1 - i0, nsub))
            for k in range(w):
                t = z[k][i0:i1, None] - z[k][None, :]
                d2 += t * t
            d2[np.abs(jj[None, :] - np.arange(i0, i1)[:, None]) < excl] = 1e308
            j = np.argmin(d2, axis=1)
            v = d2[np.arange(i1 - i0), j]
            sel = v < 1e308
            best[i0:i1] = np.where(sel, v, 1e308)
            bestj[i0:i1] = np.where(sel, j, -1)
        out = pd.DataFrame({
            "idx": np.arange(nsub, dtype=np.int64),
            "bucket": pdf["bucket"].to_numpy()[:nsub],
            "__d2": best,
            "__j": bestj,
        })
        for c in by:
            out[c] = pdf[c].iloc[0]
        return out

    prof = _per_key(b, by, ["bucket"], profile, out_schema)
    return prof.select(
        *by,
        F.col("idx"),
        F.col("bucket"),
        F.when(
            F.col("__j") >= 0, F.round(F.sqrt(F.col("__d2")), 6)
        ).alias("mp"),
        F.when(F.col("__j") >= 0, F.col("__j")).alias("mp_idx"),
    )


def matrix_profile(
    df: DataFrame,
    w: int = 12,
    every: str = "2 hours",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    max_buckets: int = 65536,
) -> DataFrame:
    """Matrix profile per key: for every length-`w` subsequence of the
    bucketed series, the z-normalized Euclidean distance to its
    NEAREST non-overlapping neighbor (UCR matrix profile, Yeh et al.
    2016, ICDM — public research). Low values = recurring motifs
    (the series repeats this shape elsewhere); the maxima are
    discords — the classic "weirdest window in the metric" detector
    that needs no threshold, baseline, or training.

    Subsequences are POSITIONAL over the observed bucket sequence:
    empty buckets are skipped, not zero-filled, so on a gapped feed a
    w-window spans more wall-clock than w*every. Run gapfill_locf /
    gapfill_interp first when calendar alignment matters.

    Spark shape: one decimal-mean bucket aggregation (calendar-
    bounded, guarded at `max_buckets` per key), then the O(n_sub² ·
    w) distance scan as a per-key numpy grid behind one Arrow
    boundary (_matrix_profile_arrow) — no joins; keys parallelize
    across tasks and the per-key grid is bounded by the calendar, not
    the corpus. 4096 buckets measured 2.9 s, against 123 s for the
    interpreted nested-HOF JVM grid it replaced (r9 verdict #3).
    Exclusion zone w//2 (trivial-match suppression). Flat windows get
    sigma floored at 1e-12 (their z-profile is ~0, distances stay
    finite and deterministic). All folds are sequential left-to-right
    IEEE doubles, so the DuckDB oracle replays them bit-for-bit.

    Returns (key..., idx, bucket, mp, mp_idx): subsequence index, its
    start bucket, round@6 profile value, and the neighbor index
    (NULL/NULL when every candidate falls in the exclusion zone)."""
    by = by or []
    df = _time_norm(df, time_col)
    # NULL values drop before bucketing (the streaming_psi rule): an
    # all-NULL bucket would otherwise put a NULL mean into the series
    # and NULL-poison every distance fold that touches it — blanking
    # mp for w windows and diverging from the oracle's NULL-ordering
    # min
    b = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(_dec_avg(value_col).alias("__v"))
    )
    b = _bucket_count_guard(b, by, "matrix_profile", max_buckets)
    return _matrix_profile_arrow(b, w, max(1, w // 2), by)


def runs_test(
    df: DataFrame,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Wald-Wolfowitz runs test per key on the SIGNS of successive
    differences (public classic): is the series' up/down pattern
    random, or does it trend (too few runs, z << 0) / oscillate (too
    many runs, z >> 0)? The non-parametric sibling of [[ts_ljung_box]]
    — no autocorrelation estimate, just the run count against its
    null distribution.

    Two lag windows on one key sort (diff signs, then sign changes);
    zero diffs drop (the standard treatment). All counts are integers
    until the closed-form mu/sigma/z doubles, so both engines agree
    bit-for-bit. Keys with fewer than 2 ups or 2 downs are omitted
    (the null variance degenerates). Returns (*by, n_signs, n_plus,
    n_minus, n_runs, expected_runs, z_stat)."""
    by = by or []
    df = _time_norm(df, time_col)
    w = ordered(by, time_col, *(order_tiebreak or []))
    tiebreak = list(order_tiebreak or [])
    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *by,
            F.col(time_col).alias("__t"),
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(tiebreak)],
            (F.col(value_col).cast("double")
             - F.lag(F.col(value_col).cast("double")).over(w)).alias("__d"),
        )
        .filter(F.col("__d").isNotNull() & (F.col("__d") != 0))
        .select(
            *by, "__t",
            *[f"__o{i}" for i in range(len(tiebreak))],
            F.when(F.col("__d") > 0, 1).otherwise(-1).alias("__s"),
        )
    )
    # the run-boundary sort carries the SAME tiebreak as the diff sort
    # (equal timestamps within a key must order identically in both)
    w2 = ordered(by, "__t", *[F.col(f"__o{i}") for i in range(len(tiebreak))])
    flagged = d.select(
        *by,
        "__s",
        F.when(
            F.lag("__s").over(w2).isNull()
            | (F.col("__s") != F.lag("__s").over(w2)),
            1,
        ).otherwise(0).alias("__new_run"),
    )
    agg = flagged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_signs"),
        F.sum(F.when(F.col("__s") > 0, 1).otherwise(0)).alias("n_plus"),
        F.sum(F.when(F.col("__s") < 0, 1).otherwise(0)).alias("n_minus"),
        F.sum("__new_run").alias("n_runs"),
    ).filter((F.col("n_plus") >= 2) & (F.col("n_minus") >= 2))
    n = F.col("n_signs").cast("double")
    np_ = F.col("n_plus").cast("double")
    nm = F.col("n_minus").cast("double")
    mu = F.lit(2.0) * np_ * nm / n + F.lit(1.0)
    var = (mu - F.lit(1.0)) * (mu - F.lit(2.0)) / (n - F.lit(1.0))
    return agg.select(
        *by,
        F.col("n_signs").cast("long").alias("n_signs"),
        F.col("n_plus").cast("long").alias("n_plus"),
        F.col("n_minus").cast("long").alias("n_minus"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round(
            F.try_divide(
                F.col("n_runs").cast("double") - mu,
                F.sqrt(F.greatest(var, F.lit(0.0))),
            ),
            6,
        ).alias("z_stat"),
    )


def variance_ratio(
    df: DataFrame,
    qs: tuple = (2, 4, 8),
    every: str = "2 hours",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    max_buckets: int = 20000,
) -> DataFrame:
    """Lo-MacKinlay variance-ratio test per key (1988, Rev. Fin.
    Studies — public classic): VR(q) = Var(q-step changes) /
    (q * Var(1-step changes)) over the bucketed series. A random walk
    gives VR = 1; mean reversion VR < 1; trending/momentum VR > 1.
    The scale-dependence companion to [[ts_hurst]].

    One bucket aggregation (decimal means — both engines see the same
    doubles), ONE window sort carrying a lag per q, an unpivot, and
    two aggregations. Variances are population, with each diff and
    squared diff decimal-quantized @8 pre-sum (order-independent).
    Returns one row per (key, q): (*by, q, n_diffs, var_1, var_q, vr)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(_dec_avg(value_col).alias("__v"))
    )
    b = _bucket_count_guard(b, by, "variance_ratio", max_buckets)
    w = ordered(by, "bucket")
    lags = b.select(
        *by,
        "__v",
        (F.col("__v") - F.lag("__v", 1).over(w)).alias("__d1"),
        *[
            (F.col("__v") - F.lag("__v", q).over(w)).alias(f"__d{q}")
            for q in qs
        ],
    )

    def dec8(e):
        return F.round(e, 8).cast("decimal(30,8)")

    base = lags.filter(F.col("__d1").isNotNull()).groupBy(*by).agg(
        F.count(F.lit(1)).alias("__n1"),
        F.round(F.sum(dec8(F.col("__d1"))), 6).cast("double").alias("__s1"),
        F.round(F.sum(dec8(F.col("__d1") * F.col("__d1"))), 6)
        .cast("double")
        .alias("__q1"),
    )
    stacked = lags.select(
        *by,
        F.explode(
            F.array(*[
                F.struct(F.lit(q).alias("q"), F.col(f"__d{q}").alias("__dq"))
                for q in qs
            ])
        ).alias("__e"),
    ).select(*by, "__e.q", "__e.__dq").filter(F.col("__dq").isNotNull())
    per_q = stacked.groupBy(*by, "q").agg(
        F.count(F.lit(1)).alias("n_diffs"),
        F.round(F.sum(dec8(F.col("__dq"))), 6).cast("double").alias("__sq"),
        F.round(F.sum(dec8(F.col("__dq") * F.col("__dq"))), 6)
        .cast("double")
        .alias("__qq"),
    )
    j = per_q.join(broadcast(base), by) if by else per_q.crossJoin(
        broadcast(base)
    )
    m1 = F.col("__s1") / F.col("__n1")
    v1 = F.col("__q1") / F.col("__n1") - m1 * m1
    mq = F.col("__sq") / F.col("n_diffs")
    vq = F.col("__qq") / F.col("n_diffs") - mq * mq
    return (
        j.filter(F.col("__n1") >= 2)
        .select(
            *by,
            F.col("q").cast("long").alias("q"),
            F.col("n_diffs").cast("long").alias("n_diffs"),
            F.round(F.greatest(v1, F.lit(0.0)), 6).alias("var_1"),
            F.round(F.greatest(vq, F.lit(0.0)), 6).alias("var_q"),
            F.round(
                F.try_divide(
                    F.greatest(vq, F.lit(0.0)),
                    F.col("q").cast("double") * F.greatest(v1, F.lit(0.0)),
                ),
                6,
            ).alias("vr"),
        )
    )


# ln(scale) regression abscissas for hurst_exponent, precomputed ONCE
# in Python and inlined as literals on BOTH engine sides — no
# cross-engine libm-ln drift on the x axis.
_HURST_SCALES = (8, 16, 32, 64)
_HURST_LNX = {n: round(__import__("math").log(n), 8) for n in _HURST_SCALES}


def hurst_exponent(
    df: DataFrame,
    every: str = "2 hours",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    max_buckets: int = 20000,
) -> DataFrame:
    """Rescaled-range Hurst exponent per key (Hurst 1951; Mandelbrot &
    Wallis 1969 — public classics): slope of ln(R/S) on ln(n) over
    window scales n in {8,16,32,64}. H ~ 0.5 = random walk, H > 0.5 =
    long-range persistence (trends compound), H < 0.5 = mean
    reversion. The long-memory dial next to [[ts_variance_ratio]]'s
    per-horizon table.

    Shape: one bucket aggregation; each scale chunks the bucket
    sequence positionally (floor(idx/n), full chunks only — one
    projection per scale off ONE sorted window pass), R = range of
    the chunk's decimal-exact cumulative deviations, S = population
    sigma with @8-quantized squared deviations. rs quantizes @8 into
    the per-(key,scale) decimal mean; ln(mean_rs) rounds @8 (the DSIR
    ln convention) and the 4-point OLS slope accumulates @8-decimal
    terms, so both engines replay every fold exactly. Keys need >= 2
    scales with >= 2 full chunks each. Returns (*by, n_buckets,
    n_scales, hurst)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(time_bucket(time_col, every).alias("bucket"), *by)
        .agg(_dec_avg(value_col).alias("__v"))
    )
    b = _bucket_count_guard(b, by, "hurst_exponent", max_buckets)
    w = ordered(by, "bucket")
    idx = b.select(
        *by, "__v", (F.row_number().over(w) - F.lit(1)).alias("__i")
    )
    # n_buckets rides along as a window count over the SAME partition
    # (r13): the old separate `nb = idx.groupBy(...)` branch re-ran
    # the whole scan + bucket aggregation just to count buckets, then
    # joined it back at the end.
    idx = idx.withColumn(
        "__nb", F.count(F.lit(1)).over(ordered(by))
    )

    def dec8(e):
        return F.round(e, 8).cast("decimal(30,8)")

    # ONE pass over all four scales (r13, guide §2.4): the old
    # per-scale loop built four branches that EACH re-ran the
    # scan + bucket aggregation + row_number window, plus a
    # groupBy+join-back per scale for the chunk means (~20 stages of
    # tiny data — pure stage-count overhead at any SF, and 4 extra
    # full scans at scale). Explode each bucket row into its four
    # (scale, chunk) memberships and compute chunk count/mean/cumdev
    # as window frames over ONE (key, scale, chunk) sort. Every fold
    # is unchanged: decimal sums are order-independent, the running
    # cum keeps the same __i order, and the per-chunk/per-scale
    # arithmetic is identical expression for expression.
    e = idx.select(
        *by, "__v", "__i", "__nb",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(n).alias("n"),
                    F.floor(F.col("__i") / F.lit(n)).alias("c"),
                )
                for n in _HURST_SCALES
            ])
        ).alias("__sc"),
    ).select(
        *by, "__v", "__i", "__nb",
        F.col("__sc.n").alias("__n"), F.col("__sc.c").alias("__c"),
    )
    wp = ordered([*by, "__n", "__c"])
    wc = ordered([*by, "__n", "__c"], "__i", rows=(None, 0))
    g = (
        e.withColumn("__cn", F.count(F.lit(1)).over(wp))
        .withColumn(
            "__mu",
            F.round(F.sum(dec8(F.col("__v"))).over(wp), 8).cast("double")
            / F.col("__cn"),
        )
        .filter(F.col("__cn") == F.col("__n"))
        .withColumn(
            "__cum",
            F.sum(dec8(F.col("__v") - F.col("__mu"))).over(
                wc
            ),
        )
    )
    rs = g.groupBy(*by, "__n", "__c").agg(
        F.min("__nb").alias("__nb"),
        (F.max("__cum") - F.min("__cum")).cast("double").alias("__r"),
        F.sqrt(
            F.round(
                F.sum(
                    dec8(
                        (F.col("__v") - F.col("__mu"))
                        * (F.col("__v") - F.col("__mu"))
                    )
                ),
                8,
            ).cast("double")
            / F.col("__n").cast("double")
        ).alias("__s"),
    )
    lnx = F.coalesce(*[
        F.when(F.col("__n") == n, F.lit(float(_HURST_LNX[n])))
        for n in _HURST_SCALES
    ])
    pts = (
        rs.groupBy(*by, "__n").agg(
            F.min("__nb").alias("__nb"),
            F.count(F.lit(1)).alias("__nchunks"),
            (F.round(
                F.sum(
                    dec8(
                        F.col("__r")
                        / F.greatest(F.col("__s"), F.lit(1e-12))
                    )
                ),
                8,
            ).cast("double") / F.count(F.lit(1))).alias("__rs_mean"),
        )
        .filter((F.col("__nchunks") >= 2) & (F.col("__rs_mean") > 0))
        .select(
            *by, "__nb",
            lnx.alias("__x"),
            F.round(F.log(F.col("__rs_mean")), 8).alias("__y"),
        )
    )
    reg = pts.groupBy(*by).agg(
        F.min("__nb").alias("n_buckets"),
        F.count(F.lit(1)).alias("n_scales"),
        F.round(F.sum(dec8(F.col("__x"))), 8).cast("double").alias("__sx"),
        F.round(F.sum(dec8(F.col("__y"))), 8).cast("double").alias("__sy"),
        F.round(F.sum(dec8(F.col("__x") * F.col("__y"))), 8)
        .cast("double")
        .alias("__sxy"),
        F.round(F.sum(dec8(F.col("__x") * F.col("__x"))), 8)
        .cast("double")
        .alias("__sxx"),
    ).filter(F.col("n_scales") >= 2)
    k = F.col("n_scales").cast("double")
    slope = F.try_divide(
        k * F.col("__sxy") - F.col("__sx") * F.col("__sy"),
        k * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
    )
    return reg.select(
        *by,
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_scales").cast("long").alias("n_scales"),
        F.round(slope, 6).alias("hurst"),
    )


def page_hinkley(
    df: DataFrame,
    delta: float = 0.05,
    lambda_: float = 5.0,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Page-Hinkley drift detector per key (Page 1954; the streaming
    drift test river/MOA ship): standardized bucket means accumulate
    U_t = sum(z_i - mean(z_1..i) - delta); the statistic is
    PH_t = U_t - min(U_1..t), alarming past `lambda_` — catches a
    sustained upward mean shift with the self-normalizing running
    mean [[ts_cusum]] replaces with a fixed slack. Works on
    standardized values (the cusum convention) so delta/lambda are in
    sigma units.

    UNLIKE cusum's inherently-sequential max(0, .) fold, PH is pure
    prefix algebra — running mean, cumulative sum, running min — so
    the whole detector is three window frames on ONE key sort: no
    Arrow boundary, no Python, whole-stage codegen end to end, and
    the same three windows in the DuckDB oracle. Terms quantize to
    decimal(30,8) pre-cumsum so both engines agree bitwise. Flatline
    keys (sigma = 0) are excluded (the cusum convention). Returns
    one row per key: (*by, n_buckets, max_ph, n_alarms, first_alarm).
    """
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("value")
    )
    wk = ordered(by)
    mu = (
        F.round(F.sum(F.col("value").cast("decimal(30,8)")).over(wk), 4)
        .cast("double")
        / F.count("value").over(wk)
    )
    m = b.select(*by, "bucket", "value", mu.alias("__mu"))
    term = F.round(
        (F.col("value") - F.col("__mu")) * (F.col("value") - F.col("__mu")),
        6,
    ).cast("decimal(30,6)")
    sigma = F.sqrt(
        F.sum(term).over(wk).cast("double") / F.count("value").over(wk)
    )
    z = m.select(
        *by, "bucket",
        F.round(
            F.try_divide(F.col("value") - F.col("__mu"), sigma), 8
        ).alias("__z"),
        sigma.alias("__sg"),
    ).filter(F.col("__sg") > 0).drop("__sg")
    pre = ordered(by, "bucket", rows=(None, 0))
    zmean = (
        F.round(F.sum(F.col("__z").cast("decimal(30,8)")).over(pre), 8)
        .cast("double")
        / F.count("__z").over(pre)
    )
    # the U cumsum runs over a SORTED window frame, so both engines add
    # the same doubles left-to-right (the cusum precedent) — no decimal
    # quantization here: @8-rounding the quotient-based term is itself
    # a cross-engine hazard (Spark rounds the exact binary value,
    # DuckDB rounds in scaled double space; diverged live at a
    # ...5-at-the-9th-digit term)
    stepped = z.select(
        *by, "bucket", "__z", zmean.alias("__zm")
    ).select(
        *by, "bucket",
        (F.col("__z") - F.col("__zm") - F.lit(float(delta))).alias("__term"),
    )
    u = F.sum("__term").over(pre)
    cum = stepped.select(*by, "bucket", u.alias("__u"))
    ph = F.col("__u") - F.min("__u").over(pre)
    scored = cum.select(
        *by, "bucket",
        F.round(ph, 6).alias("__ph"),
        (ph > F.lit(float(lambda_))).alias("__alarm"),
    )
    return scored.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("__ph").alias("max_ph"),
        F.sum(F.when(F.col("__alarm"), 1).otherwise(0))
        .cast("long").alias("n_alarms"),
        F.min(F.when(F.col("__alarm"), F.col("bucket")))
        .alias("first_alarm"),
    )


def permutation_entropy(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Permutation entropy per key (Bandt & Pompe 2002, PRL — the
    standard model-free complexity measure): Shannon entropy of the
    order-3 ordinal patterns of consecutive bucket-mean triples,
    normalized by ln(3!) — 0 = perfectly monotone/periodic-2, 1 =
    pattern-uniform noise. The complexity dial that needs NO trig, no
    spectral estimate, no model fit: pure comparisons, so every op is
    exact on both engines (the period_detect no-libm rule).

    Ties use the Bandt-Pompe convention (earlier index ranks first,
    i.e. <= toward later elements). Shape: one bucket groupBy, two
    lead windows on one key sort, a (key, pattern) groupBy, then the
    per-key entropy from integer counts with @8-quantized -p*ln(p)
    terms. Returns (*by, n_windows, n_patterns, h, h_norm)."""
    import math

    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    wo = ordered(by, "bucket")
    tri = b.select(
        *by,
        F.col("__v").alias("__a"),
        F.lead("__v", 1).over(wo).alias("__b"),
        F.lead("__v", 2).over(wo).alias("__c"),
    ).filter(F.col("__b").isNotNull() & F.col("__c").isNotNull())
    # Bandt-Pompe rank pattern of (a, b, c); earlier index wins ties:
    # b "beats" a only if strictly greater fails -> use a <= b
    ab = (F.col("__a") <= F.col("__b")).cast("int")
    bc = (F.col("__b") <= F.col("__c")).cast("int")
    ac = (F.col("__a") <= F.col("__c")).cast("int")
    pattern = F.concat_ws("", ab, bc, ac)
    counts = tri.select(*by, pattern.alias("pattern")).groupBy(
        *by, "pattern"
    ).agg(F.count(F.lit(1)).alias("__n"))
    wk = ordered(by)
    tot = F.sum("__n").over(wk)
    p = F.col("__n").cast("double") / tot.cast("double")
    hterm = F.round(-p * F.log(p), 8).cast("decimal(30,8)")
    per_key = counts.select(
        *by, F.col("__n"), tot.alias("__tot"), hterm.alias("__h")
    ).groupBy(*by).agg(
        F.max("__tot").cast("long").alias("n_windows"),
        F.count(F.lit(1)).cast("long").alias("n_patterns"),
        F.round(F.sum("__h"), 6).cast("double").alias("h"),
    )
    return per_key.select(
        *by, "n_windows", "n_patterns", "h",
        F.round(F.col("h") / F.lit(math.log(6.0)), 6).alias("h_norm"),
    )


def adf_test(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Dickey-Fuller unit-root test per key (Dickey & Fuller 1979,
    constant-only, lag-0): regress delta(x_t) on x_{t-1} with an
    intercept and report the slope's t-statistic — past the -2.86
    critical value (5%, large n, the published constant) the series
    rejects a unit root, i.e. it mean-reverts rather than wanders.
    The stationarity gate before trusting [[ts_forecast]] /
    [[ts_holt_winters]] on a key; complements [[ts_hurst]] (H and a
    unit root measure the same wandering from two angles).

    Closed-form OLS from @8-quantized decimal sums of the (x_{t-1},
    delta) pairs on ONE key sort + one groupBy — no iteration, no
    matrix solve. t = beta/se with Sxx/Sxy/Syy moment algebra in one
    fixed IEEE op order. Returns (*by, n, beta, t_stat,
    stationary_95)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    wo = ordered(by, "bucket")
    pairs = b.select(
        *by,
        F.lag("__v", 1).over(wo).alias("__x"),
        (F.col("__v") - F.lag("__v", 1).over(wo)).alias("__y"),
    ).filter(F.col("__x").isNotNull())

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    agg = pairs.groupBy(*by).agg(
        F.count(F.lit(1)).alias("__n"),
        dsum8(F.col("__x")).alias("__sx"),
        dsum8(F.col("__y")).alias("__sy"),
        dsum8(F.col("__x") * F.col("__y")).alias("__sxy"),
        dsum8(F.col("__x") * F.col("__x")).alias("__sxx"),
        dsum8(F.col("__y") * F.col("__y")).alias("__syy"),
    ).filter(F.col("__n") >= 8)
    n = F.col("__n").cast("double")
    sxx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    sxy = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    syy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    beta = F.try_divide(sxy, sxx)
    # RSS*n^2 = n*(Syy - beta*Sxy); se(beta)^2 = n*s2/Sxx,
    # s2 = RSS/(n-2) -> t = beta * sqrt(Sxx * (n - 2) / (Syy - beta*Sxy))
    # clamp the residual term: quantization noise can push an
    # (exactly zero) RSS a hair negative, where DuckDB's sqrt raises
    # and Spark yields NaN -- greatest() skips NULLs identically on
    # both engines, so a NULL beta still propagates to a NULL t
    t_stat = beta * F.sqrt(
        F.try_divide(
            sxx * (n - 2), F.greatest(syy - beta * sxy, F.lit(0.0))
        )
    )
    return agg.select(
        *by,
        F.col("__n").cast("long").alias("n"),
        F.round(beta, 6).alias("beta"),
        F.round(t_stat, 6).alias("t_stat"),
        (t_stat < F.lit(-2.86)).alias("stationary_95"),
    )


def granger_lag1(
    df: DataFrame,
    series_a: str,
    series_b: str,
    every: str = "1 hour",
    time_col: str = "time",
    series_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Lag-1 Granger causality (Granger 1969): does knowing A's last
    bucket improve the 1-step forecast of B beyond B's own history?
    F-tests the unrestricted regression b_t ~ (b_{t-1}, a_{t-1})
    against the restricted b_t ~ b_{t-1} — the directional companion
    to [[ts_xcorr]]'s symmetric lead/lag correlation. Tests BOTH
    directions and returns two rows.

    Shape: the xcorr conditional bucket aggregation (both signals in
    ONE groupBy, no pivot join), lag windows on one bucket sort, then
    closed-form 1- and 2-regressor OLS from @8-quantized decimal
    moment sums — centered-moment algebra, no matrix solve, one fixed
    IEEE chain. Buckets missing either signal drop (both engines
    agree). significant_95 uses the F(1, inf) = chi-square 3.841
    critical value (documented large-n approximation). Returns
    (cause, effect, n, f_stat, significant_95)."""
    df = _time_norm(df, time_col)
    bucketed = (
        df.filter(F.col(value_col).isNotNull())
        .filter(F.col(series_col).isin(series_a, series_b))
        .groupBy(time_bucket(time_col, every).alias("bucket"))
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col(series_col) == series_a, F.col(value_col)
                        ).cast("decimal(30,8)")
                    ),
                    4,
                ).cast("double")
                / F.count(F.when(F.col(series_col) == series_a, value_col))
            ).alias("__a"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col(series_col) == series_b, F.col(value_col)
                        ).cast("decimal(30,8)")
                    ),
                    4,
                ).cast("double")
                / F.count(F.when(F.col(series_col) == series_b, value_col))
            ).alias("__b"),
        )
    )
    w = ordered([], "bucket")
    lagged = bucketed.select(
        F.col("__a").alias("__a0"), F.col("__b").alias("__b0"),
        F.lag("__a", 1).over(w).alias("__al"),
        F.lag("__b", 1).over(w).alias("__bl"),
    ).filter(
        F.col("__a0").isNotNull() & F.col("__b0").isNotNull()
        & F.col("__al").isNotNull() & F.col("__bl").isNotNull()
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    # ONE aggregate computes every moment both directions need (they
    # share suu/svv/suv and permute the rest), then each direction is
    # a cheap select over the localCheckpointed 1-row stats table --
    # two separate aggregates re-ran the whole bucket/window lineage
    # twice (a review finding; halves the end-to-end scan cost)
    cols = {"a0": "__a0", "b0": "__b0", "al": "__al", "bl": "__bl"}
    sums = [F.count(F.lit(1)).alias("__n")]
    for nm, c in cols.items():
        sums.append(dsum8(F.col(c)).alias(f"__s_{nm}"))
    for i, (nm1, c1) in enumerate(cols.items()):
        for nm2, c2 in list(cols.items())[i:]:
            sums.append(
                dsum8(F.col(c1) * F.col(c2)).alias(f"__s_{nm1}{nm2}")
            )
    stats = lagged.agg(*sums).localCheckpoint(eager=False)

    def direction(cause: str, effect: str, y: str, u: str, v: str):
        # y = effect_t, u = effect_{t-1}, v = cause_{t-1}
        def s(a, b=None):
            if b is None:
                return F.col(f"__s_{a}")
            return F.col(f"__s_{a}{b}" if f"__s_{a}{b}" in stats.columns
                         else f"__s_{b}{a}")

        n = F.col("__n").cast("double")
        suu = n * s(u, u) - s(u) * s(u)
        svv = n * s(v, v) - s(v) * s(v)
        suv = n * s(u, v) - s(u) * s(v)
        suy = n * s(y, u) - s(u) * s(y)
        svy = n * s(y, v) - s(v) * s(y)
        syy = n * s(y, y) - s(y) * s(y)
        den = suu * svv - suv * suv
        b1 = F.try_divide(svv * suy - suv * svy, den)
        b2 = F.try_divide(suu * svy - suv * suy, den)
        rss_u = syy - b1 * suy - b2 * svy
        rss_r = syy - F.try_divide(suy * suy, suu)
        # n <= 3 leaves no residual df: NULL f (the oracle's nd > 3)
        f_stat = F.when(
            F.col("__n") > 3,
            F.try_divide(rss_r - rss_u, F.try_divide(rss_u, n - 3)),
        )
        return stats.select(
            F.lit(cause).alias("cause"),
            F.lit(effect).alias("effect"),
            F.col("__n").cast("long").alias("n"),
            F.round(f_stat, 6).alias("f_stat"),
            (f_stat >= F.lit(3.841)).alias("significant_95"),
        )

    return direction(series_a, series_b, "b0", "bl", "al").unionAll(
        direction(series_b, series_a, "a0", "al", "bl")
    )


def theta_forecast(
    df: DataFrame,
    horizon: int = 5,
    alpha: float = 0.5,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Theta-method forecast per key (Assimakopoulos & Nikolopoulos
    2000 — the M3-competition winner, still the benchmark simple
    forecaster): decompose into two theta lines, theta=0 (the OLS
    linear trend, pure long-run drift) and theta=2 (2x - trend,
    double-amplified local curvature), SES the theta=2 line, and
    average the two extrapolations: y(n+h) = 0.5 SES_n + 0.5 (a +
    b (n+h)). Complements [[ts_forecast]] (Holt): theta's drift
    comes from a GLOBAL fit, so one recent kink can't hijack the
    long-run slope the way Holt's local trend can.

    Shape: one row_number window on the key sort, ONE groupBy for the
    closed-form OLS (@8-quantized decimal x-sums; integer rn sums are
    exact), a |keys|-row broadcast join-back, then the inherently
    sequential SES fold as one Arrow batch per key (the ts_ewma
    boundary). The oracle replays the OLS algebra and the fold via a
    recursive CTE (the ts_forecast pattern). Returns
    (*by, step, forecast, ses_level, slope)."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    by = by or []
    df = _time_norm(df, time_col).filter(F.col(value_col).isNotNull())
    w = ordered(by, time_col, *(order_tiebreak or []))
    rows = df.select(
        *by,
        F.row_number().over(w).alias("__rn"),
        F.col(value_col).cast("double").alias("__x"),
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    # rn moments in DECIMAL: int*int overflows past rn ~ 46k (caught
    # live by the 10x probe under ANSI), and sum(rn^2) ~ n^3/3 blows
    # past BIGINT near 4M rows/key — decimal(38,0) keeps both exact
    # at any per-key cardinality, double-cast once at the end
    rn_dec = F.col("__rn").cast("decimal(38,0)")
    ols = rows.groupBy(*by).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__rn").cast("double").alias("__sr"),
        F.sum(rn_dec * rn_dec).cast("double").alias("__srr"),
        dsum8(F.col("__x")).alias("__sx"),
        dsum8(F.col("__rn") * F.col("__x")).alias("__srx"),
    ).filter(F.col("__n") >= 3)
    n = F.col("__n").cast("double")
    slope = F.try_divide(
        n * F.col("__srx") - F.col("__sr") * F.col("__sx"),
        n * F.col("__srr") - F.col("__sr") * F.col("__sr"),
    )
    keyed = ols.select(
        *by, "__n", slope.alias("__b"),
        ((F.col("__sx") - slope * F.col("__sr")) / n).alias("__a"),
    )
    joined = (
        rows.join(F.broadcast(keyed), by)
        if by
        else rows.crossJoin(F.broadcast(keyed))
    )
    staged = joined.select(
        *by, "__rn", "__n", "__a", "__b",
        (
            F.lit(2.0) * F.col("__x")
            - (F.col("__a") + F.col("__b") * F.col("__rn"))
        ).alias("__t2"),
    )
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in by]
        + [
            StructField("step", LongType()),
            StructField("forecast", DoubleType()),
            StructField("ses_level", DoubleType()),
            StructField("slope", DoubleType()),
        ]
    )
    aa = float(alpha)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        t2 = pdf["__t2"].to_numpy(dtype=float)
        s = t2[0]
        for v in t2[1:]:
            s = aa * v + (1.0 - aa) * s
        a = float(pdf["__a"].iloc[0])
        b = float(pdf["__b"].iloc[0])
        nn = float(pdf["__n"].iloc[0])
        rows_out = {
            "step": list(range(1, horizon + 1)),
            "forecast": [
                0.5 * s + 0.5 * (a + b * (nn + h))
                for h in range(1, horizon + 1)
            ],
            "ses_level": [s] * horizon,
            "slope": [b] * horizon,
        }
        for c in by:
            rows_out[c] = [pdf[c].iloc[0]] * horizon
        return pd.DataFrame(rows_out)[[f.name for f in out_schema.fields]]

    return _per_key(staged, by, ["__rn"], per_key, out_schema)


def kalman_level(
    df: DataFrame,
    q_noise: float = 0.01,
    r_noise: float = 1.0,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Local-level Kalman filter per key (the random-walk-plus-noise
    state-space model, Kalman 1960; Durbin & Koopman's simplest
    structural model): per bucket, predict p += q, gain k = p/(p+r),
    update l += k (x - l), p *= (1-k). The gain CONVERGES to the
    golden ratio of q/r — so the filter is an EWMA whose smoothing
    constant the model derives instead of the caller guessing it
    ([[ts_ewma]] with a principled alpha), and the innovation stream
    (x - l_pred) is the whitened residual [[ts_anomaly_mad]] wants.

    Runs on decimal-exact bucket means; the recurrence is inherently
    sequential per key = one Arrow batch per key (the ts_ewma
    boundary), replayed bit-exactly by a recursive-CTE oracle (fixed
    IEEE op order). Returns one summary row per key: (*by, n_buckets,
    level, gain, innovation_rmse) — level is the filtered state after
    the last bucket, gain the converged Kalman gain, rmse over the
    one-step innovations from step 2 on (@8-quantized decimal sum)."""
    import math

    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in by]
        + [
            StructField("n_buckets", LongType()),
            StructField("level", DoubleType()),
            StructField("gain", DoubleType()),
            StructField("innovation_rmse", DoubleType()),
        ]
    )
    qq, rr = float(q_noise), float(r_noise)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        # raw doubles only inside the fold: the sequential order makes
        # the accumulation deterministic, and Python's round() is
        # banker's (half-even) — rounding here would diverge from the
        # engines' HALF_UP; the @6 output round happens in the Spark
        # plan below, mirrored by the oracle
        x = pdf["__v"].to_numpy(dtype=float)
        lvl = x[0]
        p = rr  # diffuse-ish init: one observation's worth of variance
        k = 0.0
        acc = 0.0
        for v in x[1:]:
            p = p + qq
            k = p / (p + rr)
            innov = v - lvl
            acc += innov * innov
            lvl = lvl + k * innov
            p = (1.0 - k) * p
        n = len(x)
        rmse = math.sqrt(acc / (n - 1)) if n > 1 else 0.0
        row = {
            "n_buckets": [n],
            "level": [lvl],
            "gain": [k],
            "innovation_rmse": [rmse],
        }
        for c in by:
            row[c] = [pdf[c].iloc[0]]
        return pd.DataFrame(row)[[f.name for f in out_schema.fields]]

    folded = _per_key(b, by, ["bucket"], per_key, out_schema)
    return folded.select(
        *by, "n_buckets",
        F.round("level", 6).alias("level"),
        F.round("gain", 6).alias("gain"),
        F.round("innovation_rmse", 6).alias("innovation_rmse"),
    )


def sigma_clip(
    df: DataFrame,
    n_sigma: float = 3.0,
    rounds: int = 5,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    max_rounds: int = 12,
) -> DataFrame:
    """Iterative sigma clipping per key (the astronomy-standard robust
    estimator, e.g. astropy's sigma_clip): repeatedly drop buckets
    more than `n_sigma` standard deviations from the SURVIVORS' mean,
    for a FIXED `rounds` synchronous passes (monotone — the clipped
    set only grows, so post-fixpoint rounds are no-ops on both
    engines, the graph_kcore convention). One round of plain z-scores
    lets a gross outlier inflate sigma and hide its siblings; the
    iteration converges to the clean population, giving the robust
    (mean, std) every threshold-based monitor upstream should use.

    Shape: each round is two windows on the SAME key partitioning
    (decimal mean, @6-quantized-term sigma — the cusum recipe) + a
    filter; no joins, no Python, `rounds` is plan depth not data
    passes over raw rows (bucket table only). A flatline key keeps
    everything (|v - mu| = 0 <= 0). Returns one row per key:
    (*by, n_buckets, n_clipped, clean_mean, clean_std)."""
    from fossil_spark.operators import fixed_rounds_guard

    fixed_rounds_guard("sigma_clip", rounds, max_rounds)
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    wk = ordered(by)
    orig = b.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )

    def stats(cur):
        mu = (
            F.round(F.sum(F.col("__v").cast("decimal(30,8)")).over(wk), 4)
            .cast("double")
            / F.count("__v").over(wk)
        )
        stepped = cur.select(*by, "bucket", "__v", mu.alias("__mu"))
        term = F.round(
            (F.col("__v") - F.col("__mu"))
            * (F.col("__v") - F.col("__mu")),
            6,
        ).cast("decimal(30,6)")
        sg = F.sqrt(
            F.sum(term).over(wk).cast("double")
            / F.count("__v").over(wk)
        )
        return stepped.select(*by, "bucket", "__v", "__mu", sg.alias("__sg"))

    cur = b
    for _ in range(rounds):
        cur = stats(cur).filter(
            F.abs(F.col("__v") - F.col("__mu"))
            <= F.lit(float(n_sigma)) * F.col("__sg")
        ).select(*by, "bucket", "__v")
    final = stats(cur).groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("__n_kept"),
        F.round(F.max("__mu"), 6).alias("clean_mean"),
        F.round(F.max("__sg"), 6).alias("clean_std"),
    )
    # LEFT join: with n_sigma < 1 a key CAN clip every bucket (the
    # n_sigma >= 1 Chebyshev floor no longer applies) — report it as
    # fully clipped with NULL clean stats, don't erase it (review
    # finding)
    if by:
        joined = orig.join(final, by, "left")
    else:
        joined = orig.withColumn("__j", F.lit(1)).join(
            final.withColumn("__j", F.lit(1)), "__j", "left"
        ).drop("__j")
    return joined.select(
        *by, "n_buckets",
        (F.col("n_buckets") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("long").alias("n_clipped"),
        "clean_mean", "clean_std",
    )


def record_stats(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Record statistics per key (classical record theory, Rényi
    1962): count running record highs and lows over the bucket-mean
    series and compare against the i.i.d. expectation — for an
    exchangeable series the probability bucket i sets a record is
    exactly 1/i, so E[#records] = H_n (the harmonic number),
    DISTRIBUTION-FREE. A significant record-high excess is trend
    evidence that needs no model at all — the zero-assumption
    companion to [[ts_trend_robust]] (Mann-Kendall) and [[ts_adf]].

    Shape: two prefix-extreme windows on ONE key sort (strict > / <,
    so ties never count as records — both engines agree), integer
    record counts, and H_n as a JVM fold over sequence(1, n) in raw
    doubles (ascending order fixed on both engines — the
    deterministic-fold rule, no quantizer needed). Returns (*by,
    n_buckets, n_record_highs, n_record_lows, expected_records,
    high_excess, low_excess)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    pre = ordered(by, "bucket", rows=(None, -1))
    flagged = b.select(
        *by,
        (F.max("__v").over(pre).isNull()
         | (F.col("__v") > F.max("__v").over(pre))).alias("__hi"),
        (F.min("__v").over(pre).isNull()
         | (F.col("__v") < F.min("__v").over(pre))).alias("__lo"),
    )
    agg = flagged.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("__hi"), 1).otherwise(0))
        .cast("long").alias("n_record_highs"),
        F.sum(F.when(F.col("__lo"), 1).otherwise(0))
        .cast("long").alias("n_record_lows"),
    )
    # H_n as an ascending raw-double fold: the order is pinned by
    # sequence() on both engines, so the sum is bit-deterministic
    h_n = F.aggregate(
        F.sequence(F.lit(1), F.col("n_buckets").cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / i.cast("double"),
    )
    return agg.select(
        *by, "n_buckets", "n_record_highs", "n_record_lows",
        F.round(h_n, 6).alias("expected_records"),
        F.round(
            F.col("n_record_highs").cast("double") - h_n, 6
        ).alias("high_excess"),
        F.round(
            F.col("n_record_lows").cast("double") - h_n, 6
        ).alias("low_excess"),
    )


def turning_points(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Turning-point test per key (Kendall's classical randomness
    check, Kendall & Stuart 1966): count strict local peaks and
    troughs of the bucket-mean series and compare against the i.i.d.
    null, where any interior point is a turning point with
    probability 2/3 — E[T] = 2(n-2)/3, Var[T] = (16n-29)/90, both
    closed-form and distribution-free. z << 0 means too few turns
    (trending/sticky), z >> 0 too many (oscillating faster than
    noise). The third leg of the zero-assumption randomness tripod
    next to [[ts_runs_test]] (sign runs) and [[ts_records]] (record
    counts): records see monotone drift, runs see sign persistence,
    turning points see local curvature.

    One bucket groupBy + lag/lead on one key sort; counts stay
    integers until the closed-form mu/sigma/z doubles (fixed op
    order, so both engines agree bitwise). Plateau buckets (exact
    @4-mean ties with a neighbor) are not turning points — strict
    comparisons, the textbook treatment. Keys with < 3 buckets drop
    (no interior point). Returns (*by, n_buckets, n_turning,
    expected_turning, z_stat, iid_consistent_95)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    w = ordered(by, "bucket")
    prev = F.lag("__v").over(w)
    nxt = F.lead("__v").over(w)
    flagged = b.select(
        *by,
        F.when(
            prev.isNotNull() & nxt.isNotNull()
            & (
                ((F.col("__v") > prev) & (F.col("__v") > nxt))
                | ((F.col("__v") < prev) & (F.col("__v") < nxt))
            ),
            1,
        ).otherwise(0).alias("__turn"),
    )
    agg = flagged.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("__turn").cast("long").alias("n_turning"),
    ).filter(F.col("n_buckets") >= 3)
    nd = F.col("n_buckets").cast("double")
    expected = F.lit(2.0) * (nd - F.lit(2.0)) / F.lit(3.0)
    z = (F.col("n_turning").cast("double") - expected) / F.sqrt(
        (F.lit(16.0) * nd - F.lit(29.0)) / F.lit(90.0)
    )
    return agg.select(
        *by, "n_buckets", "n_turning",
        F.round(expected, 6).alias("expected_turning"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) < F.lit(1.959964)).alias("iid_consistent_95"),
    )


def cointegration(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    key_col: str = "event_type",
    value_col: str = "value",
    min_buckets: int = 10,
) -> DataFrame:
    """Engle-Granger cointegration test for every pair of keys
    (Engle & Granger 1987): regress key_y's bucket-mean series on
    key_x's (OLS with intercept), then run a Dickey-Fuller test on
    the residual — a strongly negative DF statistic means the
    residual mean-reverts, i.e. the two series share a common
    stochastic trend and their spread is stationary (the pairs-
    trading / shared-load signal two unit-root series can't get from
    plain correlation, which is spurious under trends). Companion to
    [[ts_adf]] (single-series unit root) and [[ts_granger]]
    (directional lead-lag); critical value -3.34 is the asymptotic
    5% Engle-Granger level for the 2-variable case (MacKinnon 1991).

    Shape: one bucket groupBy, one bucket-aligned self-join (keys
    paired x < y), then two closed-form OLS passes expressed as
    moment sums — the first CENTERED (exact decimal sums -> @6
    means, @6-quantized centered cross-moments: the anova recipe,
    because raw sum(x*y) at 1e16 magnitude out-ulps any quantizer),
    the second on the @6-rounded residual and its lag (small
    magnitudes, @6-quantized term sums). No Python, no iteration.
    Pairs with < min_buckets common buckets drop. Returns one row
    per pair: (key_x, key_y, n_buckets, beta, alpha, df_stat,
    cointegrated_5pct)."""
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(key_col).alias("__k"),
        time_bucket(time_col, every).alias("bucket"),
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    x = b.select(F.col("__k").alias("key_x"), "bucket",
                 F.col("__v").alias("__x"))
    y = b.select(F.col("__k").alias("key_y"), "bucket",
                 F.col("__v").alias("__y"))
    pairs = x.join(y, "bucket").filter(F.col("key_x") < F.col("key_y"))

    def dsum6(e):
        return F.sum(F.round(e, 6).cast("decimal(30,6)")).cast("double")

    keys = ["key_x", "key_y"]
    wk = ordered(keys)
    # pass 1: @6 per-pair means (exact decimal sums over the window)
    mx = F.round(
        F.sum(F.col("__x").cast("decimal(30,8)")).over(wk).cast("double")
        / F.count("__x").over(wk), 6,
    )
    my = F.round(
        F.sum(F.col("__y").cast("decimal(30,8)")).over(wk).cast("double")
        / F.count("__y").over(wk), 6,
    )
    centered = pairs.select(
        *keys, "bucket", "__x", "__y", mx.alias("__mx"), my.alias("__my")
    )
    # pass 2: centered OLS moments -> beta/alpha (broadcast k²-row dim)
    ols = centered.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("__mx").alias("__mx"),
        F.max("__my").alias("__my"),
        dsum6((F.col("__x") - F.col("__mx"))
              * (F.col("__x") - F.col("__mx"))).alias("__sxx"),
        dsum6((F.col("__x") - F.col("__mx"))
              * (F.col("__y") - F.col("__my"))).alias("__sxy"),
    ).filter(
        (F.col("n_buckets") >= min_buckets) & (F.col("__sxx") > 0)
    ).select(
        *keys, "n_buckets",
        (F.col("__sxy") / F.col("__sxx")).alias("__beta"),
        (F.col("__my") - (F.col("__sxy") / F.col("__sxx"))
         * F.col("__mx")).alias("__alpha"),
    )
    resid = centered.join(broadcast(ols), keys).select(
        *keys, "bucket", "n_buckets", "__beta", "__alpha",
        F.round(
            F.col("__y") - (F.col("__alpha")
                            + F.col("__beta") * F.col("__x")), 6,
        ).alias("__e"),
    )
    wo = ordered(keys, "bucket")
    lagged = resid.select(
        *keys, "n_buckets", "__beta", "__alpha", "__e",
        F.lag("__e").over(wo).alias("__el"),
    ).filter(F.col("__el").isNotNull())
    # Dickey-Fuller on the residual: de = rho*e_lag + err, no
    # intercept (OLS residuals are centered by construction)
    dfm = lagged.groupBy(
        *keys, "n_buckets", "__beta", "__alpha"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        dsum6(F.col("__el") * F.col("__el")).alias("__slg"),
        dsum6(F.col("__el") * (F.col("__e") - F.col("__el")))
        .alias("__sld"),
        dsum6((F.col("__e") - F.col("__el"))
              * (F.col("__e") - F.col("__el"))).alias("__sdd"),
    )
    md = F.col("__m").cast("double")
    rho = F.col("__sld") / F.col("__slg")
    s2 = (F.col("__sdd") - rho * F.col("__sld")) / (md - F.lit(1.0))
    se = F.sqrt(
        F.greatest(s2 / F.col("__slg"), F.lit(0.0))
    )
    # try_divide: a residual tail whose RSS rounds to 0 at @6 while
    # slg > 0 makes se = 0; DuckDB's double /0 yields NULL, so match
    # it instead of raising DIVIDE_BY_ZERO under ANSI
    stat = F.when(
        (F.col("__slg") > 0) & (F.col("__m") >= 3),
        F.try_divide(rho, se),
    )
    return dfm.select(
        "key_x", "key_y", "n_buckets",
        F.round("__beta", 6).alias("beta"),
        F.round("__alpha", 6).alias("alpha"),
        F.round(stat, 6).alias("df_stat"),
        F.when(stat.isNotNull(), stat < F.lit(-3.34))
        .alias("cointegrated_5pct"),
    )


def variogram(
    df: DataFrame,
    lags: list[int] | None = None,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Empirical semivariogram per key (Matheron 1963, the
    geostatistics workhorse): gamma(h) = mean((v(t+h) - v(t))^2) / 2
    over all bucket pairs exactly h apart — how fast does the series
    decorrelate with temporal distance? Rising-then-flattening gamma
    gives the practical correlation range; a high nugget (gamma(1)
    >> 0) is measurement noise. Unlike [[ts_acf]] this needs no
    contiguous series — missing buckets just mean fewer pairs at a
    lag, never a biased estimate, which makes it the right
    decorrelation tool for sparse/gappy telemetry.

    Shape: one bucket groupBy, one lag explode (|lags| map-side
    copies of the bucket table, NOT of raw rows), one bucket-aligned
    equi-join, one (key, lag) aggregate. Squared diffs accumulate as
    @6-quantized decimals. Returns (*by, lag_buckets, n_pairs,
    gamma)."""
    by = by or []
    lags = lags or [1, 2, 4, 8, 24]
    df = _time_norm(df, time_col)
    step_us = _interval_us(every)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    ).select(
        *by, F.unix_micros("bucket").alias("__bus"), "__v"
    )
    left = b.select(
        *by, "__bus", F.col("__v").alias("__v1"),
        F.explode(F.array(*[F.lit(h) for h in lags])).alias("lag_buckets"),
    ).withColumn(
        "__target",
        F.col("__bus") + F.col("lag_buckets").cast("long")
        * F.lit(step_us),
    )
    right = b.select(
        *by, F.col("__bus").alias("__target"), F.col("__v").alias("__v2")
    )
    joined = left.join(right, [*by, "__target"])
    return joined.groupBy(*by, "lag_buckets").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(
                F.round(
                    (F.col("__v2") - F.col("__v1"))
                    * (F.col("__v2") - F.col("__v1")), 6,
                ).cast("decimal(30,6)")
            ).cast("double")
            / (F.lit(2.0) * F.count(F.lit(1)).cast("double")), 6,
        ).alias("gamma"),
    )


def evt_pot(
    df: DataFrame,
    q: float = 0.95,
    ret_p: float = 0.999,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    min_exceed: int = 10,
) -> DataFrame:
    """Peaks-over-threshold extreme value analysis per key (Pickands
    1975 / the POT method): excesses over a high quantile threshold
    follow a Generalized Pareto Distribution, so fitting the GPD to
    the tail extrapolates BEYOND the observed maximum — the return
    level var_p answers 'what value is exceeded with probability
    1-p per observation', which no empirical percentile can say for
    p beyond 1 - 1/n. Method-of-moments fit (Hosking & Wallis 1987):
    mean^2/var = 1 - 2 xi gives xi = (1 - m^2/s^2)/2, sigma =
    m (1 - xi); xi > 0 is a genuinely heavy tail (the capacity-
    planning red flag [[ts_anomaly_mad]]'s fixed-sigma model misses).

    Threshold is the exact interpolated per-key percentile (the
    agg_percentiles engine convention). Shape: one percentile
    aggregate, a broadcast join-back of the k-row threshold table,
    one moment aggregate over exceedances (@8-quantized decimal
    sums). Keys with < min_exceed exceedances drop (a GPD fit on a
    handful of points is noise). Returns (*by, threshold_u,
    n_obs, n_exceed, gpd_xi, gpd_sigma, var_p)."""
    by = by or []
    df = _time_norm(df, time_col)
    vals = df.filter(F.col(value_col).isNotNull()).select(
        *by, F.col(value_col).cast("double").alias("__v")
    )
    thr = vals.groupBy(*by).agg(
        F.expr(f"percentile(__v, {q!r})").alias("__u"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )
    if by:
        tagged = vals.join(F.broadcast(thr), by)
    else:
        tagged = vals.crossJoin(F.broadcast(thr))
    exc = tagged.filter(F.col("__v") > F.col("__u")).select(
        *by, "__u", "n_obs", (F.col("__v") - F.col("__u")).alias("__y")
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    g = exc.groupBy(*by, "__u", "n_obs").agg(
        F.count(F.lit(1)).cast("long").alias("n_exceed"),
        dsum8(F.col("__y")).alias("__s1"),
        dsum8(F.col("__y") * F.col("__y")).alias("__s2"),
    ).filter(F.col("n_exceed") >= min_exceed)
    nu = F.col("n_exceed").cast("double")
    m = F.col("__s1") / nu
    s2 = F.try_divide(
        F.col("__s2") - F.col("__s1") * F.col("__s1") / nu,
        nu - F.lit(1.0),
    )
    xi = F.when(s2 > 0, F.lit(0.5) * (F.lit(1.0) - m * m / s2))
    sigma = m * (F.lit(1.0) - xi)
    zeta = nu / F.col("n_obs").cast("double")
    ratio = F.lit(float(1.0 - ret_p)) / zeta
    var_p = F.when(
        F.abs(xi) > F.lit(1e-9),
        F.col("__u")
        + sigma / xi * (F.pow(ratio, -xi) - F.lit(1.0)),
    ).otherwise(
        F.col("__u") - sigma * F.log(ratio)
    )
    return g.select(
        *by,
        F.round("__u", 6).alias("threshold_u"),
        "n_obs", "n_exceed",
        F.round(xi, 6).alias("gpd_xi"),
        F.round(sigma, 6).alias("gpd_sigma"),
        F.round(var_p, 6).alias("var_p"),
    )


def intermittency(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Intermittent-demand classification per key (Syntetos & Boylan
    2005, the forecasting-method router used across supply chains):
    ADI (average demand interval = span buckets / demand buckets) on
    one axis, CV^2 of the nonzero demand sizes on the other, cut at
    the published 1.32 / 0.49 thresholds into smooth / intermittent /
    erratic / lumpy. The router matters because the right forecaster
    differs per quadrant (SES for smooth, Croston-style for
    intermittent, robust methods for lumpy) — run this BEFORE
    pointing [[ts_theta_forecast]] or [[ts_ewma]] at a sparse series.

    Demand = events per bucket; a bucket row only exists when demand
    > 0, so the demand-bucket count is the table size and the span
    denominator comes from the min/max bucket epochs (exact integer
    arithmetic). Demand sizes are integers, so ALL moments are exact
    decimals; cv^2 is one fixed-order double expression. Keys with
    < 2 demand buckets drop (no variance). Returns (*by,
    n_buckets_span, n_demand_buckets, adi, cv2, pattern)."""
    by = by or []
    df = _time_norm(df, time_col)
    step_us = _interval_us(every)
    b = df.groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("__d"))
    g = b.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_demand_buckets"),
        (
            (F.max(F.unix_micros("bucket"))
             - F.min(F.unix_micros("bucket"))) / F.lit(step_us) + 1
        ).cast("long").alias("n_buckets_span"),
        F.sum(F.col("__d").cast("decimal(38,0)")).alias("__s1"),
        F.sum(
            F.col("__d").cast("decimal(19,0)")
            * F.col("__d").cast("decimal(19,0)")
        ).alias("__s2"),
    ).filter(F.col("n_demand_buckets") >= 2)
    nd = F.col("n_demand_buckets").cast("double")
    m = F.col("__s1").cast("double") / nd
    var = (
        F.col("__s2").cast("double")
        - F.col("__s1").cast("double") * F.col("__s1").cast("double")
        / nd
    ) / (nd - F.lit(1.0))
    adi = F.col("n_buckets_span").cast("double") / nd
    cv2 = F.greatest(var, F.lit(0.0)) / (m * m)
    pattern = (
        F.when((adi < 1.32) & (cv2 < 0.49), "smooth")
        .when((adi >= 1.32) & (cv2 < 0.49), "intermittent")
        .when((adi < 1.32) & (cv2 >= 0.49), "erratic")
        .otherwise("lumpy")
    )
    return g.select(
        *by, "n_buckets_span", "n_demand_buckets",
        F.round(adi, 6).alias("adi"),
        F.round(cv2, 6).alias("cv2"),
        pattern.alias("pattern"),
    )


def croston(
    df: DataFrame,
    alpha: float = 0.1,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
) -> DataFrame:
    """Croston's intermittent-demand forecast per key (Croston 1972,
    Operational Research Quarterly), with the Syntetos-Boylan
    bias-corrected variant (Syntetos & Boylan 2005) — the forecaster
    [[ts_intermittency]]'s router points at for its 'intermittent'
    quadrant. Demand sizes and inter-demand intervals get SEPARATE
    simple-exponential-smoothing recurrences, updated only when
    demand occurs:

        z' = (1-a)z + a*x      (size, init = first demand size)
        q' = (1-a)q + a*I      (interval in buckets, init = first
                                observed interval)

    forecast = z_hat / q_hat (demand per bucket); forecast_sba =
    (1 - a/2) * forecast. Keys with a single demand bucket drop (no
    interval to smooth).

    Spark shape: demand = events per `every` bucket (a bucket row
    exists only when demand > 0 — absent buckets ARE the intervals,
    so no zero-filled spine is materialized), one distributed
    groupBy; the recurrence then runs as one Arrow batch per key
    (the [[ts_ewma]] _per_key precedent) over the BUCKETED
    series, whose length is calendar-bounded, not data-bounded — the
    batch stays small at any SF. Bucket epochs use integer `div`, so
    intervals are exact; the smoothing arithmetic is the same
    fixed-order float expression the DuckDB oracle's recursive CTE
    replays, so results are bit-exact cross-engine.

    Returns (*by, n_demands, z_hat, p_hat, forecast, forecast_sba)."""
    import math

    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    by = by or []
    df = _time_norm(df, time_col)
    step_us = _interval_us(every)
    b = df.groupBy(
        *by, time_bucket(time_col, every).alias("__bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("__d"))
    b = b.select(
        *by,
        F.expr(f"unix_micros(__bucket) div {step_us}").alias("__e"),
        "__d",
    )
    out_schema = StructType(
        [f for f in b.schema.fields if f.name in by]
        + [
            StructField("n_demands", LongType()),
            StructField("z_hat", DoubleType()),
            StructField("p_hat", DoubleType()),
            StructField("forecast", DoubleType()),
            StructField("forecast_sba", DoubleType()),
        ]
    )
    a = float(alpha)

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame | None:
        es = pdf["__e"].tolist()
        ds = pdf["__d"].tolist()
        z = float(ds[0])
        q = None
        for i in range(1, len(es)):
            iv = float(es[i] - es[i - 1])
            z = (1.0 - a) * z + a * float(ds[i])
            q = iv if q is None else (1.0 - a) * q + a * iv
        if q is None or math.isnan(q):
            # a null-time bucket sorts last and leaves a null interval:
            # no forecast, as the oracle's `q IS NOT NULL`
            return None
        f = z / q
        row = [pdf.iloc[0][k] for k in by] + [
            len(es), z, q, f, (1.0 - a / 2.0) * f,
        ]
        return pd.DataFrame([row], columns=[f.name for f in out_schema.fields])

    return _per_key(b, by, ["__e"], per_key, out_schema)


def iact(
    df: DataFrame,
    lags: int = 10,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Integrated autocorrelation time per key (Sokal 1997, the MCMC
    effective-sample-size workhorse): tau = 1 + 2 sum_{k<=K} rho_k
    over the first K row-lag autocorrelations, and ESS = n / tau —
    how many INDEPENDENT observations this correlated series is
    actually worth. The sample-size honesty check for every
    confidence interval computed on telemetry: n = 100k points at
    tau = 50 carry the evidence of 2k. Truncates at fixed K (the
    window estimator; documented rather than adaptive so the whole
    readout is replayable). Complements [[ts_acf]] (which shows the
    individual rho_k) and [[sample_ess]] (weight-induced ESS — this
    is correlation-induced).

    Same one-sort lag shape as acf, but each rho_k comes from
    @8-quantized decimal moment sums with a guarded denominator
    (rounded @4, the acf report precision) instead of engine-native
    corr — ANSI corr RAISES on a zero-variance series where DuckDB
    returns NULL, and the moment form makes both engines bitwise
    identical anyway. A key with any undefined rho_k (constant
    series, too few rows) reports NULL tau/ess. Returns (*by, n_obs,
    tau, ess, ess_ratio)."""
    by = by or []
    df = _time_norm(df, time_col)
    # r13 optimization (guide §1.2 per-task work): the double->decimal
    # cast runs through BigDecimal per value, and the old shape paid it
    # 60x per row (each of the 10 lags re-quantized v, v², lag, lag²
    # inside its own aggregate). Quantize v and v² ONCE pre-window and
    # LAG THE DECIMALS: round(lag(v,k),8) == lag(round(v,8),k)
    # pointwise, so every sum sees the identical decimal stream while
    # only the 10 cross products still quantize per lag (a product of
    # raw doubles can't be decomposed). Measured 10.06 -> 4.35 s at
    # sf0.1, all 61 aggregate fields bitwise identical.
    vd = F.col(value_col).cast("double")
    pre = df.select(
        *by,
        vd.alias("__v"),
        F.round(vd, 8).cast("decimal(30,8)").alias("__r"),
        F.round(vd * vd, 8).cast("decimal(30,8)").alias("__q"),
        time_col,
        *(order_tiebreak or []),
    )
    # one-string SQL below (r13, the ANN build-cost rule): the 30 lag
    # windows + 61 aggregate fields + 10 rho terms cost ~1.3 s of
    # py4j round-trips as Column loops; the strings emit the SAME
    # expression trees in a handful of calls
    part = ", ".join(f"`{c}`" for c in by)
    # the null-time rule of `ordered`, spelled out in SQL
    ordr = ", ".join(
        f"`{c}` ASC NULLS LAST" for c in [time_col, *(order_tiebreak or [])]
    )
    over = (
        "OVER ("
        + (f"PARTITION BY {part} " if by else "")
        + f"ORDER BY {ordr})"
    )
    lagged = pre.selectExpr(
        *[f"`{c}`" for c in by], "__v", "__r", "__q",
        *[f"lag(__v, {k}) {over} AS __l{k}" for k in range(1, lags + 1)],
        *[f"lag(__r, {k}) {over} AS __lr{k}" for k in range(1, lags + 1)],
        *[f"lag(__q, {k}) {over} AS __lq{k}" for k in range(1, lags + 1)],
    )

    def rsum(e: str) -> str:
        return f"CAST(round(sum({e}), 8) AS DOUBLE)"

    aggs = [F.expr("CAST(count(__v) AS BIGINT)").alias("n_obs")]
    for k in range(1, lags + 1):
        pair = f"(__l{k} IS NOT NULL) AND (__v IS NOT NULL)"

        def pw(col: str) -> str:
            return f"CASE WHEN {pair} THEN {col} END"

        aggs += [
            F.expr(
                f"CAST(sum(CASE WHEN {pair} THEN 1 ELSE 0 END)"
                " AS DOUBLE)"
            ).alias(f"__n{k}"),
            F.expr(rsum(pw("__r"))).alias(f"__sx{k}"),
            F.expr(rsum(pw(f"__lr{k}"))).alias(f"__sy{k}"),
            F.expr(
                rsum(
                    f"CAST(round(({pw('__v')}) * ({pw(f'__l{k}')}), 8)"
                    " AS DECIMAL(30,8))"
                )
            ).alias(f"__sxy{k}"),
            F.expr(rsum(pw("__q"))).alias(f"__sxx{k}"),
            F.expr(rsum(pw(f"__lq{k}"))).alias(f"__syy{k}"),
        ]
    g = lagged.groupBy(*[F.col(c) for c in by]).agg(*aggs)
    rho_terms = []
    for k in range(1, lags + 1):
        num = f"(__n{k} * __sxy{k} - __sx{k} * __sy{k})"
        dx = f"(__n{k} * __sxx{k} - __sx{k} * __sx{k})"
        dy = f"(__n{k} * __syy{k} - __sy{k} * __sy{k})"
        rho_terms.append(
            f"round(CASE WHEN ({dx} > 0) AND ({dy} > 0)"
            f" THEN {num} / SQRT({dx} * {dy}) END, 4)"
        )
    s = rho_terms[0]
    for r in rho_terms[1:]:
        s = f"({s} + {r})"
    tau = f"(1.0D + 2.0D * {s})"
    ess = f"CASE WHEN {tau} > 0 THEN CAST(n_obs AS DOUBLE) / {tau} END"
    return g.select(
        *by, "n_obs",
        F.expr(f"round({tau}, 6)").alias("tau"),
        F.expr(f"round({ess}, 6)").alias("ess"),
        F.expr(
            f"round(CASE WHEN {tau} > 0 THEN 1.0D / {tau} END, 6)"
        ).alias("ess_ratio"),
    )


def kpss(
    df: DataFrame,
    bandwidth: int = 8,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """KPSS level-stationarity test per key (Kwiatkowski, Phillips,
    Schmidt & Shin 1992): the NULL-REVERSED partner of [[ts_adf]] —
    ADF's null is a unit root (failing to reject proves nothing),
    KPSS's null is stationarity, so running both cleanly separates
    'stationary' / 'unit root' / 'not enough data to say'. The
    statistic is sum_t S_t^2 / (n^2 s^2_lrv) over partial sums of the
    demeaned bucket means, with the Bartlett-weighted long-run
    variance at a FIXED bandwidth L (replayable, the fixed-rounds
    discipline; the adaptive 4(n/100)^.25 rule picks 6-8 at any real
    scale). 5% critical value 0.463 (level case).

    Shape: one bucket groupBy, a mean window + a cumulative-sum
    window + L lag windows all on the SAME key partitioning, one
    moment aggregate. Partial sums accumulate @6-quantized decimals
    (exact, order-free); gamma terms @6; Bartlett weights are
    Python-computed literals injected into both engines' plans.
    Keys with <= bandwidth + 1 buckets drop. Returns (*by,
    n_buckets, kpss_stat, lrv, level_stationary_5pct)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    wk = ordered(by)
    mu = F.round(
        F.sum(F.col("__v").cast("decimal(30,8)")).over(wk).cast("double")
        / F.count("__v").over(wk), 6,
    )
    centered = b.select(
        *by, "bucket", (F.col("__v") - mu).alias("__e")
    )
    wc = ordered(by, "bucket", rows=(None, 0))
    wo = ordered(by, "bucket")
    staged = centered.select(
        *by, "__e",
        F.sum(F.round(F.col("__e"), 6).cast("decimal(30,6)")).over(wc)
        .cast("double").alias("__s"),
        *[
            F.lag("__e", l).over(wo).alias(f"__el{l}")
            for l in range(1, bandwidth + 1)
        ],
    )

    def dsum(e, nd):
        return F.sum(F.round(e, nd).cast(f"decimal(38,{nd})")).cast(
            "double"
        )

    g = staged.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        dsum(F.col("__s") * F.col("__s"), 4).alias("__ss2"),
        dsum(F.col("__e") * F.col("__e"), 6).alias("__g0"),
        *[
            dsum(F.col("__e") * F.col(f"__el{l}"), 6).alias(f"__g{l}")
            for l in range(1, bandwidth + 1)
        ],
    ).filter(F.col("n_buckets") > bandwidth + 1)
    nn = F.col("n_buckets").cast("double")
    lrv = F.col("__g0") / nn
    for l in range(1, bandwidth + 1):
        w_l = 1.0 - l / (bandwidth + 1.0)
        lrv = lrv + F.lit(2.0) * F.lit(w_l) * (F.col(f"__g{l}") / nn)
    stat = F.when(
        lrv > 0, F.col("__ss2") / (nn * nn) / lrv
    )
    return g.select(
        *by, "n_buckets",
        F.round(stat, 6).alias("kpss_stat"),
        F.round(lrv, 6).alias("lrv"),
        F.when(stat.isNotNull(), stat < F.lit(0.463))
        .alias("level_stationary_5pct"),
    )


def capability(
    df: DataFrame,
    spec_lo: float,
    spec_hi: float,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Process capability indices per key (Montgomery, Statistical
    Quality Control — the SPC readouts Cp and Cpk) over bucket means
    against FIXED spec limits [spec_lo, spec_hi]: Cp = (hi - lo) /
    (6 sigma) says whether the process is narrow enough to fit the
    band AT ALL; Cpk = min(hi - mu, mu - lo) / (3 sigma) additionally
    pays for being off-center. Cpk >= 1.33 is the classic "capable"
    bar. The natural companion to the alarm-generating
    [[ts_ewma_control]]/[[ts_cusum]]: those say WHEN the process
    left its behavior, capability says whether the process was ever
    fit for the spec in the first place.

    Exactness: the cusum bucket recipe — decimal bucket means,
    decimal grand mean @4, @6-quantized squared terms for sigma; the
    two indices are fixed-order doubles with try_divide (a flatline
    key: sigma = 0 -> NULL indices, matching DuckDB /0 — reported,
    not dropped, with its off_center sign still meaningful). Returns
    (*by, n_buckets, mean, sigma, cp, cpk, capable_133)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    wk = ordered(by)
    mu = (
        F.round(F.sum(F.col("__v").cast("decimal(30,8)")).over(wk), 4)
        .cast("double")
        / F.count("__v").over(wk)
    )
    m = b.select(*by, "__v", mu.alias("__mu"))
    term = F.round(
        (F.col("__v") - F.col("__mu")) * (F.col("__v") - F.col("__mu")),
        6,
    ).cast("decimal(30,6)")
    g = m.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("__mu").alias("__m"),
        F.sqrt(
            F.sum(term).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__sg"),
    )
    lo, hi = float(spec_lo), float(spec_hi)
    cp = F.try_divide(F.lit(hi - lo), F.lit(6.0) * F.col("__sg"))
    cpk = F.try_divide(
        F.least(F.lit(hi) - F.col("__m"), F.col("__m") - F.lit(lo)),
        F.lit(3.0) * F.col("__sg"),
    )
    return g.select(
        *by, "n_buckets",
        F.round("__m", 6).alias("mean"),
        F.round("__sg", 6).alias("sigma"),
        F.round(cp, 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        F.when(cpk.isNotNull(), cpk >= F.lit(4.0 / 3.0))
        .alias("capable_133"),
    )


def seasonal_mk(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    max_buckets: int = 20000,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test per key (Hirsch & Slack 1984,
    Water Resources Research — the standard monotone-trend test for
    seasonal telemetry): the MK statistic S is computed WITHIN each
    season (hour-of-day, so daily cycles can't masquerade as trend —
    the failure mode of the plain MK in [[ts_theil_sen]] on diurnal
    data) and summed; Var[S] = sum over seasons of
    (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18 with the textbook tie
    correction; Z applies the +-1 continuity correction.

    Shape: bucket means (the cusum recipe), ONE pairwise self-join
    per (key, season) — the pair space is sum over seasons of n_s²,
    i.e. n²/24 of the plain MK's, guarded per (key, season) by the
    buckets² guard — plus a tiny tie groupBy; S and the 18·Var
    accumulate as exact integers, one fixed-order double Z at the
    end (try_divide: a key with Var 0 reports NULL z). Returns
    (*by, n_buckets, s_total, var18, z, trending_95)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("__bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    ).select(
        *by,
        F.hour("__bucket").alias("__season"),
        F.unix_timestamp("__bucket").alias("__t"),
        "__v",
    )
    keys = by + ["__season"]
    b = _bucket_count_guard(b, keys, "seasonal_mk", max_buckets)
    b = b.localCheckpoint(eager=False)
    a = b.select(*keys, F.col("__t").alias("__t1"),
                 F.col("__v").alias("__v1"))
    c = b.select(*keys, F.col("__t").alias("__t2"),
                 F.col("__v").alias("__v2"))
    s_per = (
        a.join(c, on=keys)
        .filter(F.col("__t2") > F.col("__t1"))
        .groupBy(*keys)
        .agg(
            F.sum(F.signum(F.col("__v2") - F.col("__v1")).cast("long"))
            .alias("__s"),
        )
    )
    # per-season bucket counts + tie groups (exact integer variance)
    ties = b.groupBy(*keys, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__tn")
    )
    var_per = ties.groupBy(*keys).agg(
        F.sum("__tn").cast("long").alias("__n"),
        F.sum(
            F.col("__tn") * (F.col("__tn") - 1)
            * (2 * F.col("__tn") + 5)
        ).cast("long").alias("__tie18"),
    ).select(
        *keys,
        "__n",
        (
            F.col("__n") * (F.col("__n") - 1) * (2 * F.col("__n") + 5)
            - F.col("__tie18")
        ).alias("__v18"),
    )
    per_season = var_per.join(s_per, on=keys, how="left").select(
        *by, "__n", "__v18",
        F.coalesce(F.col("__s"), F.lit(0)).alias("__s"),
    )
    g = per_season.groupBy(*by).agg(
        F.sum("__n").cast("long").alias("n_buckets"),
        F.sum("__s").cast("long").alias("s_total"),
        F.sum("__v18").cast("long").alias("var18"),
    )
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    zc = F.when(F.col("s_total") > 0, F.col("s_total") - 1).when(
        F.col("s_total") < 0, F.col("s_total") + 1
    ).otherwise(F.lit(0)).cast("double")
    z = F.try_divide(zc, sd)
    return g.select(
        *by, "n_buckets", "s_total", "var18",
        F.round(z, 6).alias("z"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(1.96))
        .alias("trending_95"),
    )


def spc_rules(
    df: DataFrame,
    every: str = "1 hour",
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Western Electric run rules per key (Western Electric Company,
    Statistical Quality Control Handbook 1956 — the four classic zone
    tests every SPC chart ships): over the hourly z-score series,
    rule 1 = a point beyond 3 sigma; rule 2 = >= 2 of the last 3
    beyond 2 sigma on the SAME side; rule 3 = >= 4 of the last 5
    beyond 1 sigma same side; rule 4 = 8 consecutive points on one
    side of the center line. Rules 2-4 catch the sustained small
    shifts rule 1 is blind to — the run-pattern companion to
    [[ts_capability]] (is the process fit) and [[ts_cusum]]
    (cumulative drift).

    Shape: the cusum bucket/z recipe (flatline keys excluded,
    documented there), then four fixed ROWS-frame window sums on ONE
    key sort — no joins, no Python; every rule decision is an integer
    count compare, so both engines agree bitwise. Frames shorter than
    the rule's span (series head) don't fire. Returns (*by,
    n_buckets, r1_beyond_3s, r2_2of3_beyond_2s, r3_4of5_beyond_1s,
    r4_8_same_side, n_flagged)."""
    by = by or []
    df = _time_norm(df, time_col)
    b = df.filter(F.col(value_col).isNotNull()).groupBy(
        *by, time_bucket(time_col, every).alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col(value_col).cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count(value_col)
        ).alias("__v")
    )
    wk = ordered(by)
    mu = (
        F.round(F.sum(F.col("__v").cast("decimal(30,8)")).over(wk), 4)
        .cast("double")
        / F.count("__v").over(wk)
    )
    m = b.select(*by, "bucket", "__v", mu.alias("__mu"))
    term = F.round(
        (F.col("__v") - F.col("__mu")) * (F.col("__v") - F.col("__mu")),
        6,
    ).cast("decimal(30,6)")
    sg = F.sqrt(
        F.sum(term).over(wk).cast("double") / F.count("__v").over(wk)
    )
    z = m.select(
        *by, "bucket",
        ((F.col("__v") - F.col("__mu")) / sg).alias("__z"),
        sg.alias("__sg"),
    ).filter(F.col("__sg") > 0).drop("__sg")

    def frame(n):
        return ordered(by, "bucket", rows=(-(n - 1), 0))

    def cnt(cond, n):
        return F.sum(cond.cast("int")).over(frame(n))

    have = lambda n: F.count(F.lit(1)).over(frame(n)) == n  # noqa: E731
    r1 = F.abs(F.col("__z")) > 3
    r2 = have(3) & (
        (cnt(F.col("__z") > 2, 3) >= 2) | (cnt(F.col("__z") < -2, 3) >= 2)
    )
    r3 = have(5) & (
        (cnt(F.col("__z") > 1, 5) >= 4) | (cnt(F.col("__z") < -1, 5) >= 4)
    )
    r4 = have(8) & (
        (cnt(F.col("__z") > 0, 8) == 8) | (cnt(F.col("__z") < 0, 8) == 8)
    )
    flagged = z.select(
        *by,
        r1.cast("int").alias("__r1"),
        r2.cast("int").alias("__r2"),
        r3.cast("int").alias("__r3"),
        r4.cast("int").alias("__r4"),
    )
    return flagged.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("__r1").cast("long").alias("r1_beyond_3s"),
        F.sum("__r2").cast("long").alias("r2_2of3_beyond_2s"),
        F.sum("__r3").cast("long").alias("r3_4of5_beyond_1s"),
        F.sum("__r4").cast("long").alias("r4_8_same_side"),
        F.sum(
            F.when(
                (F.col("__r1") + F.col("__r2") + F.col("__r3")
                 + F.col("__r4")) > 0, 1
            ).otherwise(0)
        ).cast("long").alias("n_flagged"),
    )
