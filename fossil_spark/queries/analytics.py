"""Analytical query shapes beyond the TPC-H set: window functions,
multi-level rollups, percentiles, JSON property analysis, distinct
counting. Each demonstrates a Spark plan pattern that matters at
100 TB (commented per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fossil_spark.operators.timeseries import ordered, time_bucket
from fossil_spark.queries.tpch import dsum
from fossil_spark.session import read_table


def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over order dates. One shuffle on
    custkey; the running sum is a single window pass within each key
    (decimal accumulation: partition-order independent)."""
    o = read_table(spark, sf_dir, "orders")
    w = ordered("o_custkey", "o_orderdate", "o_orderkey", rows=(None, 0))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(30,8)")).over(w), 4)
        .cast("double")
        .alias("cum_revenue"),
    )


def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): grand total, per-status, and
    per-(status, priority) in ONE pass — Spark expands grouping sets
    without rescanning the fact table."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): every grouping-set combination —
    grand total, per-status, per-priority, and the full cross — in
    ONE pass over the fact table (Catalyst expands the grouping sets
    into a single Expand + aggregate, no rescans)."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: 15-minute partial aggregates
    re-aggregated to hourly — the continuous-aggregate pattern where
    coarse resolutions reuse fine partials instead of rescanning raw
    events. Correct because (sum, count) are decomposable; avg is
    derived at the end."""
    ev = read_table(spark, sf_dir, "events")
    fine = (
        ev.groupBy(
            time_bucket("ts", "15 minutes").alias("bucket15"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,8)")).alias("sum_v"),
        )
    )
    return (
        fine.groupBy(
            F.date_trunc("hour", "bucket15").alias("bucket"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            (F.round(F.sum("sum_v"), 4).cast("double") / F.sum("n")).alias("avg_value"),
        )
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / p95 per event type. Exact percentile needs the
    sorted group in memory — fine for low-cardinality keys; switch to
    approx_percentile (t-digest sketch, mergeable map-side) for
    high-cardinality keys at scale."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        )
    )


def props_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analysis: extract a JSON property from the
    events payload and aggregate by decile bucket. The extraction is a
    JVM-side expression (no Python); at scale, persistently-queried
    keys should be materialized into columns at ingest."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((F.floor(k / 10) * 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"))
    )


def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day. Exact distinct = shuffle on
    (day, user); for 100 TB dashboards prefer approx_count_distinct
    (HLL sketch, no second shuffle) — see daily_active_users_approx."""
    ev = read_table(spark, sf_dir, "events")
    # day as timestamp, not DATE: DATE round-trips differently through
    # Arrow/pandas in different engines (oracle comparability)
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau"))
    )


def daily_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch DAU (rows-only check: sketch estimates are
    engine-specific). The scale path: mergeable state, single shuffle."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("dau_approx"))
    )


def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature extraction for model training: one pass builds
    the classic behavioral feature vector — per-type event counts
    (conditional aggregates, no pivot shuffle), decimal-exact value
    stats, activity span, distinct active days, and session count
    (30-minute gap). Shape: the sessionization lag window keys on
    user_id and the groupBy reuses that partitioning — ONE exchange
    for the whole feature vector; the distinct-days count rides the
    same aggregation as an Expand, not a second shuffle chain."""
    return _user_feature_agg(read_table(spark, sf_dir, "events"))


def _user_feature_agg(ev: DataFrame) -> DataFrame:
    w = ordered("user_id", "ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    staged = ev.select(
        "user_id", "ts", "event_type", "value",
        new_session.alias("__new_s"),
    )

    def n_of(kind: str):
        return F.sum(
            F.when(F.col("event_type") == kind, 1).otherwise(0)
        ).cast("long").alias(f"n_{kind}")

    return staged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        *[n_of(k) for k in ("view", "click", "purchase", "signup", "error")],
        F.sum("__new_s").cast("long").alias("n_sessions"),
        F.countDistinct(F.date_trunc("day", "ts")).alias("active_days"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        (
            F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4)
            .cast("double") / F.count("value")
        ).alias("value_mean"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .cast("decimal(30,8)")
            ),
            4,
        ).cast("double").alias("purchase_value_sum"),
    )


def ensure_bucketed_events(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> str:
    """Materialize the events table as a user_id-bucketed,
    (user_id, ts, event_id)-sorted catalog table under build/, once
    per (data files, n_buckets) — the pay-the-shuffle-once-at-write
    leg of the scale story (fossil_spark.bucketing docstring). The
    table name embeds a source tag (sf_dir + buckets) plus a CONTENT
    tag (per-file name + mtime_ns + size over the events parquet —
    not just the directory mtime, which a fast rewrite can preserve),
    so a session that already registered THIS data's layout reuses it
    and a regenerated testdata dir gets a fresh table instead of a
    stale hit. Materializing a fresh content tag drops superseded
    snapshots of the SAME source (catalog table + build/ directory) —
    other sources' snapshots (e.g. another scale factor in the same
    session) are untouched. Returns the catalog table name."""
    import glob
    import hashlib
    import os
    import shutil

    src = os.path.join(sf_dir, "events.parquet")
    parts = []
    for p in sorted(
        glob.glob(os.path.join(src, "*")) if os.path.isdir(src) else [src]
    ):
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_mtime_ns}:{st.st_size}")
    src_tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{n_buckets}".encode()
    ).hexdigest()[:6]
    content_tag = hashlib.md5("|".join(parts).encode()).hexdigest()[:10]
    table = f"fs_events_by_user_{src_tag}_{content_tag}"
    if spark.catalog.tableExists(table):
        return table
    from fossil_spark.bucketing import save_bucketed

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    # sweep snapshots this one supersedes: same source tag, older
    # content — they can never be requested again under this naming
    prefix = f"fs_events_by_user_{src_tag}_"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix) and t.name != table:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    for d in glob.glob(
        os.path.join(repo_root, "build", f"bucketed_events_{src_tag}_*")
    ):
        if not d.endswith(content_tag):
            shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        repo_root, "build", f"bucketed_events_{src_tag}_{content_tag}"
    )
    save_bucketed(
        read_table(spark, sf_dir, "events"),
        table,
        path,
        key="user_id",
        n_buckets=n_buckets,
        sort_cols=["user_id", "ts", "event_id"],
    )
    return table


def user_features_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[agg_user_features]] computed over the BUCKETED events layout
    (r11 verdict #5: the zero-Exchange path earns a driver-hash
    signal): the table is written bucketBy(16, user_id) +
    sortBy(user_id, ts, event_id) once, then BOTH the sessionization
    window and the feature groupBy are satisfied by the on-disk
    distribution — the physical plan has NO Exchange at all
    (asserted through this exact registry path in
    tests/test_bucketing.py). Same result as the shuffled plan, same
    oracle SQL; at 100 TB this is the difference between re-shuffling
    the fact table per feature pass and never shuffling it again."""
    from fossil_spark.bucketing import read_bucketed

    table = ensure_bucketed_events(spark, sf_dir)
    return _user_feature_agg(read_bucketed(spark, table))


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: users grouped by first-seen week, then
    per (cohort, weeks-since-cohort) the active-user count and the
    decimal-exact purchase revenue — the revenue companion to
    retention (which counts activity only). Two exchanges: the
    first-seen window keys on user_id, the final rollup ships one row
    per (cohort, offset, user) partial. Weekly buckets are
    epoch-aligned on BOTH engines (window() is epoch-aligned; the
    oracle pins time_bucket's origin to 1970-01-01)."""
    ev = read_table(spark, sf_dir, "events")
    week = time_bucket("ts", "1 week")
    b = ev.select(
        "user_id", "event_type", "value", week.alias("period"),
    )
    cohort = F.min("period").over(ordered("user_id"))
    c = b.select(
        "user_id", "event_type", "value", "period", cohort.alias("cohort"),
    )
    offset = (
        (F.unix_micros("period") - F.unix_micros("cohort"))
        / F.lit(604_800_000_000)
    ).cast("long")
    return (
        c.select("user_id", "event_type", "value", "cohort",
                 offset.alias("period_offset"))
        .groupBy("cohort", "period_offset")
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .cast("decimal(30,8)")
                ),
                4,
            ).cast("double").alias("revenue"),
        )
    )


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types per user
    journey: P(next_type | type), the behavioral-model input behind
    next-action prediction and funnel design. One lag window keyed on
    user_id + one (prev, cur) groupBy; probabilities row-normalize
    via a window over the tiny transition table (k^2 rows) — the
    event scan runs once. Integer counts, one double division."""
    ev = read_table(spark, sf_dir, "events")
    w = ordered("user_id", "ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_total = F.sum("n").over(ordered("prev_type"))
    return counts.select(
        "prev_type", "next_type", F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / row_total.cast("double"), 6)
        .alias("p"),
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes, "Strategic Database
    Marketing" 1994): per purchasing user, Recency (whole days since
    last purchase, measured against the corpus' latest purchase so
    the result is data-anchored and reproducible), Frequency
    (purchase count) and Monetary (decimal-exact spend), each scored
    into quintiles (5 = most recent / most frequent / biggest
    spender; ntile ties broken by user_id) and combined into the
    classic 3-digit RFM code — the segmentation marketing/LTV models
    train against.

    Shape: one purchase-filtered scan -> per-user groupBy; the anchor
    is a 1-row broadcast. The quintile windows rank the USER table
    (aggregates, not events), which is |users|-bounded at any corpus
    size — the same global-ntile shape as text_quality_deciles;
    recency is integer µs arithmetic, monetary decimal(30,8)."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor = ev.agg(F.max("ts").alias("__anchor"))
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("__last"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4)
        .cast("double")
        .alias("monetary"),
    )
    staged = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.floor(
            (F.unix_micros("__anchor") - F.unix_micros("__last"))
            / F.lit(86_400_000_000)
        )
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )
    r = F.ntile(5).over(
        ordered([], F.col("recency_days").desc_nulls_last(), "user_id")
    )
    f = F.ntile(5).over(ordered([], "frequency", "user_id"))
    m = F.ntile(5).over(ordered([], "monetary", "user_id"))
    return staged.select(
        "user_id", "recency_days", "frequency", "monetary",
        r.cast("long").alias("r_score"),
        f.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"),
    ).withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("long"),
    )


def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal 1993
    support/confidence/lift) over SESSION item-sets: which event types
    co-occur within a user session — the set-companion of agg_markov's
    sequential transitions (markov asks "what follows X", basket asks
    "what accompanies X").

    Shape: the 30-min sessionization lag window keys on user_id;
    session item-sets come from ONE groupBy (array_sort(collect_set))
    whose arrays are bounded by the event-type alphabet (k types ->
    <= k(k-1)/2 pairs per session, never events²); item counts are a
    k-row broadcast, the session total a 1-row broadcast. All counts
    integer-exact; support/confidence/lift are fixed op-order double
    chains. Returns (item_a, item_b, n_a, n_b, n_ab, support,
    conf_a_to_b, conf_b_to_a, lift) with item_a < item_b."""
    ev = read_table(spark, sf_dir, "events")
    w = ordered("user_id", "ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = (
        F.when(gap_us > 30 * 60 * 1_000_000, 1)
        .otherwise(0)
        .cast("long")
    )
    sid = F.sum(new_s).over(
        ordered("user_id", "ts", "event_id", rows=(None, 0))
    )
    si = ev.select(
        "user_id", "event_type", sid.alias("session_seq")
    ).distinct()
    sets = si.groupBy("user_id", "session_seq").agg(
        F.array_sort(F.collect_set("event_type")).alias("items")
    )
    n_sessions = sets.agg(F.count(F.lit(1)).alias("n_sessions"))
    item_counts = si.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    n = F.size("items")
    pairs_arr = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.slice(F.col("items"), i + 1, n),
                    lambda y: F.struct(
                        F.element_at(F.col("items"), i).alias("a"),
                        y.alias("b"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pc = (
        sets.select(F.explode(pairs_arr).alias("p"))
        .groupBy(
            F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    joined = (
        pc.join(
            F.broadcast(
                item_counts.select(
                    F.col("event_type").alias("item_a"),
                    F.col("n_item").alias("n_a"),
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("event_type").alias("item_b"),
                    F.col("n_item").alias("n_b"),
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_sessions))
    )
    return joined.select(
        "item_a", "item_b", "n_a", "n_b", "n_ab",
        F.round(
            F.col("n_ab").cast("double") / F.col("n_sessions"), 6
        ).alias("support"),
        F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
            "conf_a_to_b"
        ),
        F.round(F.col("n_ab").cast("double") / F.col("n_b"), 6).alias(
            "conf_b_to_a"
        ),
        F.round(
            F.col("n_ab").cast("double")
            * F.col("n_sessions")
            / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    )


def user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the traffic-
    concentration audit (is the corpus a few whales plus a long tail,
    or evenly spread?), the single number behind "top 1% of users
    produce X% of events" and a skew early-warning for every
    user-keyed shuffle downstream.

    Exact closed form over sorted counts: G = (2*sum(i*x_i)
    - (n+1)*sum(x)) / (n*sum(x)) with rank i by (count, user_id) —
    ALL-INTEGER numerators, one double division. The rank window runs
    over the |users|-bounded aggregate table, never events.
    Returns one row (n_users, n_events, gini)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    ranked = per_user.select(
        "user_id", "x",
        F.row_number()
        .over(ordered([], "x", "user_id"))
        .alias("i"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("n_events"),
        F.sum(F.col("i") * F.col("x")).alias("__ix"),
    )
    return agg.select(
        "n_users",
        "n_events",
        F.round(
            (
                F.lit(2) * F.col("__ix")
                - (F.col("n_users") + 1) * F.col("n_events")
            ).cast("double")
            / (F.col("n_users") * F.col("n_events")).cast("double"),
            6,
        ).alias("gini"),
    )


def session_paths(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k session paths (the ordered event-type sequence of each
    30-min session, e.g. 'view>click>purchase') — behavioral flow
    mining: which journeys dominate, which never convert. The ordered
    counterpart of agg_markov (full paths, not single transitions)
    and agg_basket (order matters here).

    Determinism note: collect_list order under groupBy is undefined,
    so the path is built by array_sort over (row number in the
    sessionization window's (ts, event_id) order, type) structs — a
    total order, null time last — then projected to types. Shape: the
    sessionization window + ONE groupBy per session (path strings
    bounded by session length), a path-count groupBy, and a top-k cut
    (TakeOrderedAndProject; ties break on the path). Returns (path,
    n_sessions, n_events_per_session)."""
    ev = read_table(spark, sf_dir, "events")
    w = ordered("user_id", "ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = (
        F.when(gap_us > 30 * 60 * 1_000_000, 1)
        .otherwise(0)
        .cast("long")
    )
    sid = F.sum(new_s).over(
        ordered("user_id", "ts", "event_id", rows=(None, 0))
    )
    staged = ev.select(
        "user_id",
        sid.alias("session_seq"),
        F.struct(F.row_number().over(w).alias("__i"), "event_type")
        .alias("__s"),
    )
    paths = staged.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("__s")),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("__n_ev"),
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("__n_ev").cast("long").alias("n_events_per_session"),
    )
    return counts.orderBy(F.col("n_sessions").desc_nulls_last(), "path").limit(k)


def _ab_variant(user_col: str = "user_id"):
    """The deterministic md5 A/B assignment every experimentation
    operator shares: variant = first-8-hex of md5('ab:' || user) mod 2.
    One definition so the split can never drift between the SRM
    guardrail and the readouts it protects."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit("ab:"),
                                          F.col(user_col).cast("string"))),
                           1, 8), 16, 10)
        .cast("long") % 2
    )


def ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test harness over a deterministic md5 user
    split — the experimentation readout (did variant B convert
    better, and is the difference statistically significant?) run the
    way a platform would: assignment is a pure hash of the user id
    (reproducible on any engine, no state), conversion = the user is
    a heavy purchaser (>= 14 purchases, ~the corpus median, so both
    outcomes are populated — "did everyone convert" is degenerate:
    pooled p = 1 makes the z-score 0/0).

    z = (pB - pA) / sqrt(p*(1-p)*(1/nA + 1/nB)) with the pooled p —
    every input an exact integer count, the score one fixed op-order
    IEEE chain (sqrt is correctly rounded in any engine). The test
    statistic computes on the |users|-bounded table; one user groupBy
    + one 2-row aggregate. Returns one row (n_a, n_b, conv_a, conv_b,
    p_a, p_b, z_score, significant_95)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("__conv")
    )
    tagged = per_user.select(
        _ab_variant().alias("__v"), F.col("__conv")
    )
    agg = tagged.agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        F.sum(F.when(F.col("__v") == 0, F.col("__conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(F.col("__v") == 1, F.col("__conv")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = F.try_divide(p_b - p_a, se)
    return agg.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) >= F.lit(1.959964)).alias("significant_95"),
    )


def new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new-vs-returning actives: each week's active users split
    by whether this is their first active week — the growth-accounting
    readout (is traffic growth acquisition or retention?) that pairs
    with [[ts_retention]]'s cohort view. Shape: one (user, week)
    groupBy collapses events to user-weeks, a first-seen window ranks
    that |user-week|-bounded table, one final week groupBy — the
    event scan runs once, all counts integer, one double division.
    Weekly buckets are epoch-aligned on BOTH engines (the
    agg_cohort_ltv rule)."""
    ev = read_table(spark, sf_dir, "events")
    week = time_bucket("ts", "1 week")
    uw = ev.groupBy(F.col("user_id"), week.alias("week")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    first = F.min("week").over(ordered("user_id"))
    c = uw.select("user_id", "week", first.alias("first_week"))
    agg = c.groupBy("week").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum(
            F.when(F.col("week") == F.col("first_week"), 1).otherwise(0)
        ).cast("long").alias("new_users"),
    )
    return agg.select(
        "week",
        F.col("active_users").cast("long").alias("active_users"),
        "new_users",
        (F.col("active_users") - F.col("new_users"))
        .cast("long")
        .alias("returning_users"),
        F.round(
            F.col("new_users").cast("double")
            / F.col("active_users").cast("double"),
            6,
        ).alias("new_frac"),
    )


def stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness per day — the engagement ratio (Meta's
    classic DAU/MAU, here the 7-day WAU variant the 30-day corpus
    supports). Exact distinct counts at scale WITHOUT a sliding
    distinct: each (user, active-day) pair explodes to the <= 7
    trailing report days it covers, then one distinct + groupBy —
    work is |user-days| x 7, never events x window. Early days carry
    a partial trailing window over available history (documented;
    identical in the oracle). Returns (day, dau, wau, stickiness)."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("cover_day"),
    ).distinct()
    wau = cover.groupBy("cover_day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, dau["day"] == wau["cover_day"])
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


def user_outliers(
    spark: SparkSession, sf_dir: str, z_cut: float = 3.5
) -> DataFrame:
    """Outlier-user detection by event volume: modified z-score
    (0.6745 * (n - median) / MAD, Iglewicz-Hoaglin) over per-user
    event counts — the whale/bot tripwire that names the users
    [[agg_gini]]'s concentration number only hints at. Median and MAD
    are EXACT rank selections over the |users|-bounded count table
    (two global rank windows — the table is an aggregate, never
    event-scale; the ts_anomaly_mad shape applied to users). Emits
    flagged users only (|z| > 3.5), with the same documented MAD == 0
    degenerate behavior as embedding_outliers (no rows flag).
    Returns (user_id, n_events, mod_zscore)."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    w_rank = ordered([], "n_events", "user_id")
    w_all = ordered([])
    r = counts.select(
        "user_id", "n_events",
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__cnt"),
    )
    lo = F.floor((F.col("__cnt") + 1) / 2)
    hi = F.ceil((F.col("__cnt") + 1) / 2)
    med = (
        F.max(F.when(F.col("__rn") == lo, F.col("n_events"))).over(w_all)
        + F.max(F.when(F.col("__rn") == hi, F.col("n_events"))).over(w_all)
    ).cast("double") / F.lit(2.0)
    d = r.select(
        "user_id", "n_events",
        F.abs(F.col("n_events").cast("double") - med).alias("__ad"),
        med.alias("__med"),
    )
    w_rank2 = ordered([], "__ad", "user_id")
    r2 = d.select(
        "user_id", "n_events", "__ad", "__med",
        F.row_number().over(w_rank2).alias("__rn2"),
        F.count(F.lit(1)).over(w_all).alias("__cnt2"),
    )
    lo2 = F.floor((F.col("__cnt2") + 1) / 2)
    hi2 = F.ceil((F.col("__cnt2") + 1) / 2)
    mad = (
        F.max(F.when(F.col("__rn2") == lo2, F.col("__ad"))).over(w_all)
        + F.max(F.when(F.col("__rn2") == hi2, F.col("__ad"))).over(w_all)
    ) / F.lit(2.0)
    z = F.lit(0.6745) * (F.col("n_events").cast("double") - F.col("__med")) / mad
    return (
        r2.select(
            "user_id", "n_events",
            F.when(mad > 0, F.round(z, 6)).alias("mod_zscore"),
        )
        .filter(
            F.col("mod_zscore").isNotNull()
            & (F.abs("mod_zscore") > F.lit(z_cut))
        )
    )


def attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch purchase attribution: each purchase is credited to
    the user's most recent non-purchase event within the preceding
    hour ('direct' if none) — the marketing-analytics staple that
    says which behavior precedes conversion (the causal-flavored
    companion to [[agg_markov]]'s transition rates).

    ONE window per user carries the latest non-purchase (ts, event)
    as a struct max over preceding rows (struct comparison is
    lexicographic in both engines; event_id breaks timestamp ties);
    everything after is a tiny groupBy over attribution labels.
    Integer counts, decimal revenue. Returns (attributed_type,
    n_purchases, revenue, share)."""
    ev = read_table(spark, sf_dir, "events")
    w = ordered("user_id", "ts", "event_id", rows=(None, -1))
    prev = F.max(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("e"),
                F.col("event_type").alias("ty"),
            ),
        )
    ).over(w)
    p = ev.select(
        "event_type", "value", F.unix_micros("ts").alias("__t"),
        prev.alias("__prev"),
    ).filter(F.col("event_type") == "purchase")
    attributed = F.when(
        F.col("__prev").isNotNull()
        & (F.col("__t") - F.col("__prev.t") <= 3_600_000_000),
        F.col("__prev.ty"),
    ).otherwise(F.lit("direct"))
    agg = p.groupBy(attributed.alias("attributed_type")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4)
        .cast("double")
        .alias("revenue"),
    )
    total = ordered([])
    return agg.select(
        "attributed_type",
        "n_purchases",
        "revenue",
        (
            F.floor(
                F.col("n_purchases").cast("double")
                / F.sum("n_purchases").over(total).cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("share"),
    )


def purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the corpus-level distribution of
    per-user gaps between consecutive purchases — the number behind
    replenishment emails and churn-risk windows ("a customer 2x past
    their median gap is drifting"). One lag window over purchase rows
    per user, then exact-rank quantiles over the pooled gap table
    (the ts_cadence selection rule — pure integer ranks, no
    interpolation). One summary row: (n_repeat_users, n_gaps,
    min_gap_hours, median_gap_hours, p90_gap_hours, max_gap_hours)."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    w = ordered("user_id", "ts", "event_id")
    g = p.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    # narrow (user_id, gap_us) table materialized ONCE (lazy local
    # checkpoint): the repeat-user count and the gap-distribution
    # branches both read it, so the purchase scan + lag window never
    # re-execute
    g = g.localCheckpoint(eager=False)
    # Exact-rank selection WITHOUT ranking individual gap rows: group
    # to distinct gap values first (ties collapse), then one global
    # cumulative-count window over the |distinct gaps|-bounded
    # aggregate — the value at rank k is the smallest distinct gap
    # whose cumulative count reaches k. Identical selections to a
    # row_number over the pooled table, but the single-partition
    # window input shrinks from |purchase events| to |distinct gaps|.
    d = g.groupBy("gap_us").agg(F.count(F.lit(1)).alias("__c"))
    wcum = ordered([], "gap_us", rows=(None, 0))
    wall = ordered([])
    r = d.select(
        "gap_us",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wall).alias("__cnt"),
    )
    lo = F.floor((F.col("__cnt") + 1) / 2)
    hi = F.ceil((F.col("__cnt") + 1) / 2)
    p90 = F.col("__cnt") - F.floor(F.col("__cnt") / 10)
    sel = r.agg(
        F.coalesce(F.max("__cnt"), F.lit(0).cast("long")).alias("n_gaps"),
        F.min("gap_us").alias("__mn"),
        F.max("gap_us").alias("__mx"),
        F.min(F.when(F.col("__cum") >= lo, F.col("gap_us"))).alias("__lo"),
        F.min(F.when(F.col("__cum") >= hi, F.col("gap_us"))).alias("__hi"),
        F.min(F.when(F.col("__cum") >= p90, F.col("gap_us"))).alias("__p90"),
    )
    users = g.agg(F.countDistinct("user_id").alias("n_repeat_users"))
    agg = users.crossJoin(F.broadcast(sel))  # 1-row x 1-row

    def hours(c):
        # floor-half-up: integer-µs / 3.6e9 rationals can land on exact
        # .5e-6 ties that engines' round kernels split
        return F.floor(
            c.cast("double") / F.lit(3600000000.0) * F.lit(1000000.0)
            + F.lit(0.5)
        ) / F.lit(1000000.0)

    return agg.select(
        "n_repeat_users", "n_gaps",
        hours(F.col("__mn")).alias("min_gap_hours"),
        hours((F.col("__lo") + F.col("__hi")) / F.lit(2.0)).alias(
            "median_gap_hours"
        ),
        hours(F.col("__p90")).alias("p90_gap_hours"),
        hours(F.col("__mx")).alias("max_gap_hours"),
    )


def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase lag distribution: how long converts
    take to convert, plus the conversion rate — the activation-funnel
    timing readout growth teams tune onboarding against (pairs with
    [[ts_funnel]]'s step counts by adding the TIME dimension).

    Two chained selects over ONE user partitioning (first-signup,
    then first-purchase-AFTER-signup — the second window references
    the first's output attribute, same exchange), then exact-rank
    pooled quantiles over the |converted-users| delay table (the
    ts_cadence rule) with floor-half-up hour conversion. One summary
    row: (n_signup_users, n_converted, conversion_rate,
    median_lag_hours, p90_lag_hours, max_lag_hours)."""
    ev = read_table(spark, sf_dir, "events")
    w = ordered("user_id")
    s1 = ev.select(
        "user_id",
        F.col("event_type"),
        F.unix_micros("ts").alias("__t"),
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros("ts"))
        ).over(w).alias("__s"),
    )
    s2 = s1.select(
        "user_id", "__s",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("__t") >= F.col("__s")),
                F.col("__t"),
            )
        ).over(w).alias("__p"),
    )
    u = s2.groupBy("user_id").agg(
        F.max("__s").alias("__s"), F.max("__p").alias("__p")
    ).filter(F.col("__s").isNotNull())
    d = u.select(
        "user_id", (F.col("__p") - F.col("__s")).alias("__lag")
    )
    conv = d.filter(F.col("__lag").isNotNull())
    wrank = ordered([], "__lag")
    wall = ordered([])
    r = conv.select(
        "__lag",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
    )
    lo = F.floor((F.col("__cnt") + 1) / 2)
    hi = F.ceil((F.col("__cnt") + 1) / 2)
    p90 = F.col("__cnt") - F.floor(F.col("__cnt") / 10)
    stats = r.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.max("__lag").alias("__mx"),
        F.max(F.when(F.col("__rn") == lo, F.col("__lag"))).alias("__lo"),
        F.max(F.when(F.col("__rn") == hi, F.col("__lag"))).alias("__hi"),
        F.max(F.when(F.col("__rn") == p90, F.col("__lag"))).alias("__p90"),
    )
    totals = d.agg(F.count(F.lit(1)).alias("n_signup_users"))

    def hours(c):
        return F.floor(
            c.cast("double") / F.lit(3600000000.0) * F.lit(1000000.0)
            + F.lit(0.5)
        ) / F.lit(1000000.0)

    return totals.crossJoin(stats).select(
        "n_signup_users",
        "n_converted",
        F.floor(
            F.col("n_converted").cast("double")
            / F.col("n_signup_users").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        ) / F.lit(1000000.0),
        hours((F.col("__lo") + F.col("__hi")) / F.lit(2.0)),
        hours(F.col("__p90")),
        hours(F.col("__mx")),
    ).toDF(
        "n_signup_users", "n_converted", "conversion_rate",
        "median_lag_hours", "p90_lag_hours", "max_lag_hours",
    )


def net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention per cohort: each (cohort, week-offset)'s
    purchase revenue as a fraction of that cohort's week-0 revenue —
    THE SaaS growth-quality metric ([[agg_cohort_ltv]] reports the
    levels; NRR normalizes them so cohorts are comparable). One
    window over the |cohort x offset|-bounded LTV table; revenue
    stays decimal until the single floor-half-up division. Cohorts
    with zero week-0 revenue report NULL nrr (documented). Returns
    (cohort, period_offset, n_active, revenue, nrr)."""
    ltv = cohort_ltv(spark, sf_dir)
    w = ordered("cohort")
    rev0 = F.max(
        F.when(F.col("period_offset") == 0, F.col("revenue"))
    ).over(w)
    return ltv.select(
        "cohort", "period_offset", "n_active", "revenue",
        F.when(
            (rev0.isNotNull()) & (rev0 != 0),
            F.floor(
                F.col("revenue") / rev0 * F.lit(1000000.0) + F.lit(0.5)
            )
            / F.lit(1000000.0),
        ).alias("nrr"),
    )


def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full growth-accounting decomposition per week: every active
    user is exactly one of NEW (first week), RETAINED (active the
    immediately preceding week) or RESURRECTED (active before, but
    not last week); CHURNED counts users whose activity lapsed going
    into this week (the week after their last active week). The quick
    ratio (new + resurrected) / churned is the standard readout
    ([[agg_new_returning]] is the 2-way cut; this is the 4-way
    Social-Capital formulation).

    Shape: one (user, week) distinct, one user window (min/lag/lead),
    two tiny week groupBys joined on the bounded week grid. Weekly
    buckets are epoch-aligned both engines; ratios floor-half-up.
    Returns (week, n_new, n_retained, n_resurrected, n_churned,
    quick_ratio); weeks whose only traffic is churn (nobody active)
    are not emitted (documented)."""
    ev = read_table(spark, sf_dir, "events")
    week_us = 604_800_000_000
    uw = ev.select(
        "user_id",
        time_bucket("ts", "1 week").alias("week"),
    ).distinct()
    w = ordered("user_id", "week")
    s = uw.select(
        "user_id", "week",
        F.min("week").over(ordered("user_id")).alias("__first"),
        F.lag("week").over(w).alias("__prev"),
        F.lead("week").over(w).alias("__next"),
    )
    status = (
        F.when(F.col("week") == F.col("__first"), F.lit("new"))
        .when(
            F.unix_micros("week") - F.unix_micros("__prev") == week_us,
            F.lit("retained"),
        )
        .otherwise(F.lit("resurrected"))
    )
    # a null week (null time) lapses into no week: no churn marker
    lapsing = F.col("week").isNotNull() & (F.col("__next").isNull() | (
        F.unix_micros("__next") - F.unix_micros("week") > week_us
    ))
    # ONE pass: each user-week emits its status marker plus, when the
    # user lapses, a churn marker on the following week — a
    # conditional explode instead of a second branch over the same
    # subtree (which would re-execute the events scan; scan budget 1)
    markers = F.filter(
        F.array(
            F.struct(F.col("week").alias("wk"), status.alias("kind")),
            F.when(
                lapsing,
                F.struct(
                    F.timestamp_micros(
                        F.unix_micros("week") + F.lit(week_us)
                    ).alias("wk"),
                    F.lit("churned").alias("kind"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    m = s.select(F.explode(markers).alias("m")).select(
        F.col("m.wk").alias("week"), F.col("m.kind").alias("kind")
    )
    base = m.groupBy("week").agg(
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
        F.sum(F.when(F.col("kind") == "churned", 1).otherwise(0))
        .cast("long")
        .alias("n_churned"),
    )
    # weeks that only ever receive churn markers have no actives:
    # keep the active-weeks grid (documented)
    j = base.filter(
        (F.col("n_new") + F.col("n_retained") + F.col("n_resurrected"))
        > 0
    )
    return j.select(
        "week", "n_new", "n_retained", "n_resurrected", "n_churned",
        F.when(
            F.col("n_churned") > 0,
            F.floor(
                (F.col("n_new") + F.col("n_resurrected")).cast("double")
                / F.col("n_churned").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0),
        ).alias("quick_ratio"),
    )


def retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(retained fraction) ~ decay_rate *
    week over the pooled cohort-retention curve (offsets >= 1; the
    week-0 fraction is 1 by construction) — the single number that
    summarizes [[ts_retention]]'s whole matrix ("how many weeks until
    half the users are gone"), comparable across products and time.

    Pooled curve: sum of active users per offset over the cohorts
    that have OBSERVED that offset (the standard triangle
    correction: a cohort only contributes to offsets within its
    observation window — without it young cohorts fake decay). All
    counts integer; the regression uses quantized-decimal term sums
    (text_zipf contract: ln args are single divisions of exact
    ints). decay_rate >= 0 (no decay) yields NULL half-life. One
    summary row: (n_offsets, decay_rate_per_week, halflife_weeks,
    r2)."""
    from fossil_spark.operators.timeseries import retention

    r = retention(
        read_table(spark, sf_dir, "events"), "1 week", "ts", "user_id"
    )
    wch = ordered("cohort")
    base = r.select(
        "cohort", "period_offset", "n_active",
        F.max(F.when(F.col("period_offset") == 0, F.col("n_active")))
        .over(wch).alias("__c0"),
        F.max("period_offset").over(wch).alias("__maxoff"),
    )
    pooled = (
        base.filter(F.col("period_offset") >= 1)
        .groupBy("period_offset")
        .agg(
            F.sum("n_active").alias("__act"),
            F.sum(
                F.when(
                    F.col("__maxoff") >= F.col("period_offset"),
                    F.col("__c0"),
                )
            ).alias("__base"),
        )
        .filter((F.col("__act") > 0) & (F.col("__base") > 0))
    )
    x = F.col("period_offset").cast("double")
    y = F.log(
        F.col("__act").cast("double") / F.col("__base").cast("double")
    )

    def dsum(e):
        return F.round(F.sum(e.cast("decimal(30,8)")), 8).cast("double")

    agg = pooled.agg(
        F.count(F.lit(1)).alias("__m"),
        dsum(F.round(x, 8)).alias("__sx"),
        dsum(F.round(y, 8)).alias("__sy"),
        dsum(F.round(x * x, 8)).alias("__sxx"),
        dsum(F.round(x * y, 8)).alias("__sxy"),
        dsum(F.round(y * y, 8)).alias("__syy"),
    )
    m = F.col("__m").cast("double")
    slope = F.try_divide(
        m * F.col("__sxy") - F.col("__sx") * F.col("__sy"),
        m * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
    )
    r2 = F.try_divide(
        (m * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
        * (m * F.col("__sxy") - F.col("__sx") * F.col("__sy")),
        (m * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        * (m * F.col("__syy") - F.col("__sy") * F.col("__sy")),
    )
    import math

    return agg.select(
        F.col("__m").alias("n_offsets"),
        F.round(slope, 6).alias("decay_rate_per_week"),
        F.when(
            slope < 0,
            F.round(F.lit(-math.log(2.0)) / slope, 6),
        ).alias("halflife_weeks"),
        F.round(r2, 6).alias("r2"),
    )


def rolling_active_users(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """Rolling `window_days`-day active users per day (WAU when 7) —
    the retention-adjacent volume metric next to [[agg_dau_exact]]
    and [[agg_stickiness]]'s DAU/WAU ratio. Exact rolling distinct
    is NOT a window function (distinct doesn't decompose); the
    scale-safe shape is contribute-and-count: dedup to (user, day)
    once, explode each pair onto the <= window_days report days it
    activates (the interval_coverage marginal trick applied to
    distinct counting), then ONE groupBy counting distinct users per
    report day. Work is |user-days| x window — linear, no self-join,
    no quadratic day-grid scan. Report days are clipped to the
    observed [first, last] day range. Returns (day, n_active)."""
    ev = read_table(spark, sf_dir, "events")
    # checkpoint the deduped (user, day) table: both the range bounds
    # and the contribute explode consume it — lazy, it would re-scan
    ud = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct().localCheckpoint(eager=False)
    bounds = ud.agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    d = ud.crossJoin(F.broadcast(bounds))
    report = F.explode(
        F.sequence(
            F.greatest(F.col("day"), F.col("__lo")),
            F.least(
                F.col("day") + F.expr(f"INTERVAL {window_days - 1} DAYS"),
                F.col("__hi"),
            ),
            F.expr("INTERVAL 1 DAY"),
        )
    )
    return (
        d.select("user_id", report.alias("day"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def skew_audit(
    spark: SparkSession, sf_dir: str, key_col: str = "user_id", k: int = 10
) -> DataFrame:
    """Join/shuffle skew audit for a key column: the top-k heaviest
    keys, their share of all rows, and their multiple of the mean
    key weight — the number that decides whether a join on this key
    needs salting or AQE skew-split BEFORE the 100 TB run discovers
    it (the planning dual of tests/test_skew.py's runtime assertion).
    One map-side-combined count per key, then rank/aggregate windows
    over the |keys| table. All-integer counts; floor-half-up shares.
    Returns (rank, key_value, n_rows, share, x_mean)."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col(key_col).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    ).localCheckpoint(eager=False)
    # top-k via orderBy().limit() — TakeOrdered, per-partition heaps,
    # NOT a single-partition rank window (|keys| can be 1e9 at 100 TB);
    # totals are a 1-row broadcast. The counts table is checkpointed:
    # both branches consume it.
    top = counts.orderBy(F.col("n_rows").desc_nulls_last(), "key_value").limit(k)
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__nkeys"),
    )
    w = ordered([], F.col("n_rows").desc_nulls_last(), "key_value")
    r = top.crossJoin(F.broadcast(totals)).withColumn(
        "rank", F.row_number().over(w)
    )

    def fhu(x):
        return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return r.select(
        "rank", "key_value", "n_rows",
        fhu(F.col("n_rows").cast("double") / F.col("__total").cast("double")).alias("share"),
        fhu(
            F.col("n_rows").cast("double")
            / (F.col("__total").cast("double") / F.col("__nkeys").cast("double"))
        ).alias("x_mean"),
    )


def lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points for revenue concentration: per user-decile
    (users sorted by purchase revenue ascending), the cumulative
    share of total revenue — the curve behind [[agg_gini]]'s scalar
    ("the bottom 50% of buyers contribute 9%..."), the whale-
    dependence readout a marketplace review wants drawn, not
    summarized. Exact integer decile assignment (ceil(rank*10/n));
    decimal revenue sums; one |users| rank window + a 10-row
    cumulative window. Returns (decile, n_users, decile_revenue,
    cum_revenue_share)."""
    ev = read_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4).alias(
                "__rev"
            )
        )
    )
    w = ordered([], "__rev", "user_id")
    wall = ordered([])
    r = u.select(
        "__rev",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    dec = F.ceil(F.col("__rn") * 10 / F.col("__n")).cast("long")
    g = r.select(dec.alias("decile"), "__rev").groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__rev").alias("__drev"),
    )
    wcum = ordered([], "decile", rows=(None, 0))
    wtot = ordered([])
    return g.select(
        "decile", "n_users",
        F.round(F.col("__drev"), 4).cast("double").alias("decile_revenue"),
        (
            F.floor(
                F.sum("__drev").over(wcum).cast("double")
                / F.sum("__drev").over(wtot).cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("cum_revenue_share"),
    )


def chi2_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and weekday,
    with Cramér's V effect size — "is the traffic MIX calendar-
    dependent" ([[ts_profile_drift]] asks it of hour-of-day shape
    over time; this asks it of the type composition, the readout that
    justifies per-weekday capacity plans or debunks them). Observed
    counts are exact integers; expected = row*col/total in doubles;
    per-cell terms quantize to decimal before the sum (the text_zipf
    rule); V = sqrt(chi2 / (n * min(r-1, c-1))). The contingency
    table is |types| x 7 rows — windows over it are free at any
    corpus size. Returns one row: (n, n_rows, n_cols, dof, chi2,
    cramers_v)."""
    ev = read_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("__wd")
    ).agg(F.count(F.lit(1)).alias("__o"))
    wr = ordered("event_type")
    wc = ordered("__wd")
    wall = ordered([])
    t = g.select(
        "__o",
        F.sum("__o").over(wr).alias("__rt"),
        F.sum("__o").over(wc).alias("__ct"),
        F.sum("__o").over(wall).alias("__n"),
        F.size(F.collect_set("event_type").over(wall)).alias("__r"),
        F.size(F.collect_set("__wd").over(wall)).alias("__c"),
    )
    e = (
        F.col("__rt").cast("double") * F.col("__ct").cast("double")
        / F.col("__n").cast("double")
    )
    term = F.round(
        (F.col("__o").cast("double") - e) * (F.col("__o").cast("double") - e)
        / e,
        6,
    ).cast("decimal(30,6)")
    agg = t.select(
        term.alias("__t"), "__n", "__r", "__c"
    ).groupBy().agg(
        F.max("__n").cast("long").alias("n"),
        F.max("__r").cast("long").alias("n_rows"),
        F.max("__c").cast("long").alias("n_cols"),
        F.sum("__t").alias("__chi2"),
    )
    chi2 = F.col("__chi2").cast("double")
    return agg.select(
        "n", "n_rows", "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("long").alias(
            "dof"
        ),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.col("n").cast("double")
                    * F.least(
                        F.col("n_rows") - 1, F.col("n_cols") - 1
                    ).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def survival_km(spark: SparkSession, sf_dir: str,
                censor_days: int = 90) -> DataFrame:
    """Kaplan-Meier survival curve (1958, JASA — the public classic)
    over customer LIFETIMES: lifetime = days between first and last
    order; a customer whose last order is more than `censor_days`
    before the dataset's horizon is an observed churn event, the rest
    are right-censored (still active — they leave the risk set
    without contributing an event, which is the entire point of KM
    over a naive churn histogram).

    Plan: one groupBy per customer, a 1-row broadcast horizon, one
    groupBy per distinct lifetime, then ONE bounded global window
    (distinct lifetime days — calendar-bounded, whitelisted) for the
    reverse-cumulative risk set and the cumulative hazard. S(t) =
    prod(1 - d/n) replayed exactly: per-step ln rounds @8 into a
    decimal cumsum (order-fixed), exp + round@6 at the end; a final
    step with d = n pins S = 0 without touching ln(0). Returns one
    row per event time: (t_days, n_risk, n_events, survival)."""
    o = read_table(spark, sf_dir, "orders")
    life = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("__first"),
        F.max("o_orderdate").alias("__last"),
    )
    horizon = o.agg(F.max("o_orderdate").alias("__mx"))
    j = life.crossJoin(F.broadcast(horizon)).select(
        F.datediff("__last", "__first").alias("t_days"),
        F.when(
            F.datediff("__mx", "__last") > censor_days, 1
        ).otherwise(0).alias("__ev"),
    )
    per_t = j.groupBy("t_days").agg(
        F.count(F.lit(1)).alias("__n_at"),
        F.sum("__ev").alias("n_events"),
    )
    w_desc = ordered([], F.col("t_days").desc_nulls_last(), rows=(None, 0))
    risk = per_t.withColumn("n_risk", F.sum("__n_at").over(w_desc)).filter(
        F.col("n_events") >= 1
    )
    term = F.lit(1.0) - F.col("n_events").cast("double") / F.col(
        "n_risk"
    ).cast("double")
    w_asc = ordered([], "t_days", rows=(None, 0))
    km = risk.withColumn(
        "__lncum",
        F.sum(
            F.when(
                F.col("n_events") < F.col("n_risk"),
                F.round(F.log(term), 8).cast("decimal(30,8)"),
            )
        ).over(w_asc),
    )
    return km.select(
        F.col("t_days").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.when(F.col("n_events") == F.col("n_risk"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("__lncum").cast("double")), 6))
        .alias("survival"),
    ).orderBy("t_days")


def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log demand regression per brand: elasticity = OLS slope of
    ln(quantity) on ln(unit price) across a brand's lineitems — the
    classic constant-elasticity estimate (unit price = extended
    price / quantity, so the x axis is the realized per-unit price).

    Plan: one broadcast join to part (small dim), per-row ln terms
    folded into the scan, ONE groupBy per brand with @8-quantized
    decimal term sums (the retention_halflife regression contract) —
    no window, no second shuffle. Returns (p_brand, n_items,
    elasticity, r2)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    ).join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    x = F.round(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")), 8
    )
    y = F.round(F.log(F.col("l_quantity")), 8)

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    agg = rows.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum8(x).alias("__sx"),
        dsum8(y).alias("__sy"),
        dsum8(x * y).alias("__sxy"),
        dsum8(x * x).alias("__sxx"),
        dsum8(y * y).alias("__syy"),
    ).filter(F.col("n_items") >= 3)
    m = F.col("n_items").cast("double")
    num = m * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    denx = m * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = m * F.col("__syy") - F.col("__sy") * F.col("__sy")
    return agg.select(
        "p_brand",
        F.col("n_items").cast("long").alias("n_items"),
        F.round(F.try_divide(num, denx), 6).alias("elasticity"),
        F.round(F.try_divide(num * num, denx * deny), 6).alias("r2"),
    )


def mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) over the
    deterministic md5 A/B user split: does variant B's per-user
    activity (total event count — integer, heavily tied, the worst
    case for naive rank math) stochastically dominate variant A's?
    The nonparametric companion to [[agg_ab_test]]'s two-proportion z:
    no normality assumption, robust to the heavy right tail user
    activity always has.

    EXACT rank arithmetic with the classic tie correction, computed
    WITHOUT ranking individual users: U_A = sum over distinct metric
    values v of cntA(v) * (cumB(<v) + cntB(v)/2), a cumulative window
    over the DISTINCT-value aggregate (bounded by |users|, in practice
    by the distinct activity counts — the agg_gini lint shape). Halves
    are exact in decimal(38,1); every input is an integer count, so
    U, its mean, and the tie term are bit-identical across engines.
    z uses the normal approximation with tie-corrected variance
    sigma^2 = nA*nB/12 * ((N+1) - sum(t^3-t)/(N(N-1))); no continuity
    correction (documented fixed choice). Returns one row
    (n_a, n_b, u_a, u_b, mean_u, z_score, significant_95)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("__m")
    )
    variant = _ab_variant()
    tagged = per_user.select(variant.alias("__v"), "__m")
    # distinct-value grid: per metric value, counts in each variant
    grid = tagged.groupBy("__m").agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0)).alias("__cb"),
    )
    w = ordered([], "__m", rows=(None, -1))
    # exact U contribution per distinct value: halves live in dec(38,1)
    contrib = grid.select(
        "__ca", "__cb",
        F.coalesce(F.sum("__cb").over(w), F.lit(0)).alias("__cumb"),
        (F.col("__ca") + F.col("__cb")).alias("__t"),
    ).select(
        "__ca", "__cb",
        (
            F.col("__ca").cast("decimal(38,1)")
            * (
                F.col("__cumb").cast("decimal(38,1)")
                + F.col("__cb").cast("decimal(38,1)") / 2
            )
        ).alias("__u_term"),
        (
            F.col("__t").cast("decimal(38,0)") * F.col("__t")
            * F.col("__t") - F.col("__t")
        ).alias("__tie_term"),
    )
    agg = contrib.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
        F.sum("__u_term").alias("__ua"),
        F.sum("__tie_term").cast("decimal(38,0)").alias("__ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("__ua").cast("double")
    mean_u = na * nb / F.lit(2.0)
    sigma2 = (
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0))
           - F.try_divide(F.col("__ties").cast("double"),
                          n * (n - F.lit(1.0))))
    )
    z = F.try_divide(u_a - mean_u, F.sqrt(sigma2))
    return agg.select(
        "n_a", "n_b",
        F.round(u_a, 1).alias("u_a"),
        F.round(na * nb - u_a, 1).alias("u_b"),
        F.round(mean_u, 1).alias("mean_u"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) >= F.lit(1.959964)).alias("significant_95"),
    )


def welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947) over the md5 A/B
    user split on per-user total event value — the parametric
    mean-shift readout to [[agg_mann_whitney]]'s rank test. Reports
    the Welch-Satterthwaite degrees of freedom alongside t; the 95%
    verdict uses the z critical value (df is in the thousands at any
    real scale — documented approximation).

    One user groupBy (decimal-quantized value sums), one 2-row
    aggregate; moments via @8-quantized decimal term sums, the
    variance from sum/sum-of-squares with the n-1 denominator.
    Returns one row (n_a, n_b, mean_a, mean_b, t_stat, df,
    significant_95)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__m")
    )
    variant = _ab_variant()
    tagged = per_user.select(variant.alias("__v"), "__m")

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    agg = tagged.agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        dsum8(F.when(F.col("__v") == 0, F.col("__m"))).alias("__sa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__m"))).alias("__sb"),
        dsum8(F.when(F.col("__v") == 0, F.col("__m") * F.col("__m")))
        .alias("__qa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__m") * F.col("__m")))
        .alias("__qb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # try_divide everywhere a variant can be empty or a singleton
    # (ANSI double / raises on 0; DuckDB returns NULL -- match it),
    # and clamp the sqrt arg: @8-quantized moment sums can put a
    # zero variance a hair NEGATIVE, where DuckDB's sqrt raises
    ma = F.try_divide(F.col("__sa"), na)
    mb = F.try_divide(F.col("__sb"), nb)
    va = F.try_divide(
        F.col("__qa") - F.try_divide(F.col("__sa") * F.col("__sa"), na),
        na - 1,
    )
    vb = F.try_divide(
        F.col("__qb") - F.try_divide(F.col("__sb") * F.col("__sb"), nb),
        nb - 1,
    )
    sea = F.try_divide(va, na)
    seb = F.try_divide(vb, nb)
    t = F.try_divide(mb - ma, F.sqrt(F.greatest(sea + seb, F.lit(0.0))))
    df = F.try_divide(
        (sea + seb) * (sea + seb),
        F.try_divide(sea * sea, na - 1) + F.try_divide(seb * seb, nb - 1),
    )
    return agg.select(
        "n_a", "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 2).alias("df"),
        (F.abs(t) >= F.lit(1.959964)).alias("significant_95"),
    )


def anova_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (Fisher): does mean order value differ across the
    five order priorities? The k-group generalization of the A/B mean
    test — the screening question before any per-priority pricing or
    SLA decision.

    Two-pass CENTERED computation — the single-pass sum-of-squares
    identity needs sum(x^2) ~ 1e16-scale doubles whose ulp exceeds the
    @-quantizers (a live cross-engine mismatch at sf0.001), so instead:
    exact decimal group sums give @6 group means; SSW = sum of
    @4-quantized squared deviations from the (broadcast, k-row) group
    mean; SSB = sum of n_g * @6-quantized squared mean gaps. Every
    accumulated term is a moderate-magnitude exact decimal, so both
    engines agree bitwise. One groupBy + one k-row broadcast join-back
    over the fact table. Returns one row (k_groups, n, f_stat,
    eta_squared, ss_between, ss_within)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(30,2)"))
        .alias("__s1"),
    )
    g = g.select(
        "o_orderpriority", "__n",
        F.round(
            F.col("__s1").cast("double") / F.col("__n").cast("double"), 6
        ).alias("__mg"),
        "__s1",
    )
    tot = g.agg(
        F.sum("__n").alias("__nn"), F.sum("__s1").alias("__ss")
    ).select(
        "__nn",
        F.round(
            F.col("__ss").cast("double") / F.col("__nn").cast("double"), 6
        ).alias("__m"),
    )
    # SSB over the k-row group table (1-row broadcast grand mean)
    ssb_tbl = g.crossJoin(F.broadcast(tot)).select(
        "__nn",
        (
            F.col("__n").cast("decimal(20,0)")
            * F.round(
                (F.col("__mg") - F.col("__m"))
                * (F.col("__mg") - F.col("__m")),
                6,
            ).cast("decimal(30,6)")
        ).alias("__bterm"),
    )
    ssb_agg = ssb_tbl.groupBy("__nn").agg(
        F.count(F.lit(1)).alias("__k"), F.sum("__bterm").alias("__ssb")
    )
    # SSW: deviations from the k-row broadcast group means
    ssw_agg = o.join(
        F.broadcast(g.select("o_orderpriority", "__mg")), "o_orderpriority"
    ).agg(
        F.sum(
            F.round(
                (F.col("o_totalprice") - F.col("__mg"))
                * (F.col("o_totalprice") - F.col("__mg")),
                4,
            ).cast("decimal(30,4)")
        ).alias("__ssw")
    )
    both = ssb_agg.crossJoin(F.broadcast(ssw_agg))
    kk = F.col("__k").cast("double")
    nn = F.col("__nn").cast("double")
    ssb = F.col("__ssb").cast("double")
    ssw = F.col("__ssw").cast("double")
    f_stat = F.try_divide(
        F.try_divide(ssb, kk - 1), F.try_divide(ssw, nn - kk)
    )
    return both.select(
        F.col("__k").cast("long").alias("k_groups"),
        F.col("__nn").cast("long").alias("n"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(F.try_divide(ssb, ssb + ssw), 6).alias("eta_squared"),
        F.round(ssb, 2).alias("ss_between"),
        F.round(ssw, 2).alias("ss_within"),
    )


def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (the first thing any
    experimentation platform checks): are the md5 A/B assignment
    counts consistent with the designed 50/50 split? A significant
    chi-square here invalidates every downstream readout
    ([[agg_ab_test]], [[agg_welch_t]], [[agg_cuped]]) before anyone
    looks at them. For two cells with expected N/2 each, chi2
    collapses to (nA - nB)^2 / N — all integer counts, one user
    groupBy + one 2-cell aggregate. Returns one row
    (n_a, n_b, chi2, srm_detected)."""
    ev = read_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    variant = _ab_variant()
    agg = users.select(variant.alias("__v")).agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    chi2 = (na - nb) * (na - nb) / (na + nb)
    return agg.select(
        "n_a", "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 >= F.lit(3.841)).alias("srm_detected"),
    )


def cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
    2013 — the industry-standard A/B sensitivity boost): adjust each
    user's experiment-period metric by their PRE-period activity,
    y' = y - theta (x - mean x), theta = cov(x, y)/var(x), and
    report the adjusted treatment effect next to the raw one plus the
    variance reduction (= corr^2). Pre/post split at the dataset's
    time midpoint ((min+max) div 2 on microseconds, a 1-row broadcast
    — true integer division on both engines (epoch sums are
    non-negative so trunc-div and floor-div agree), robust to any
    scale factor's calendar).

    Everything reduces to per-variant moment sums: one user groupBy
    (conditional pre/post decimal value sums), one 2-row variant
    aggregate, then fixed-order IEEE moment algebra — effect_cuped =
    (meanB - meanA) - theta (xmeanB - xmeanA). Users missing a
    pre-period read as x = 0 (a constant shift, harmless to cov).
    Returns one row (n_a, n_b, theta, effect_raw, effect_cuped,
    var_reduction)."""
    ev = read_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("__mid")
    )
    per_user = ev.crossJoin(F.broadcast(mid)).groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(F.unix_micros("ts") < F.col("__mid"),
                       F.col("value")).cast("decimal(30,8)")
            ), 8,
        ).cast("double").alias("__x0"),
        F.round(
            F.sum(
                F.when(F.unix_micros("ts") >= F.col("__mid"),
                       F.col("value")).cast("decimal(30,8)")
            ), 8,
        ).cast("double").alias("__y0"),
    ).select(
        "user_id",
        F.coalesce(F.col("__x0"), F.lit(0.0)).alias("__x"),
        F.coalesce(F.col("__y0"), F.lit(0.0)).alias("__y"),
    )
    variant = _ab_variant()

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    g = per_user.select(variant.alias("__v"), "__x", "__y").groupBy(
        "__v"
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        dsum8(F.col("__x")).alias("__sx"),
        dsum8(F.col("__y")).alias("__sy"),
        dsum8(F.col("__x") * F.col("__y")).alias("__sxy"),
        dsum8(F.col("__x") * F.col("__x")).alias("__sxx"),
        dsum8(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    both = g.agg(
        F.sum(F.when(F.col("__v") == 0, F.col("__n")).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, F.col("__n")).otherwise(0))
        .cast("long").alias("n_b"),
        F.sum(F.when(F.col("__v") == 0, F.col("__sx")).otherwise(0.0))
        .alias("__sxa"),
        F.sum(F.when(F.col("__v") == 1, F.col("__sx")).otherwise(0.0))
        .alias("__sxb"),
        F.sum(F.when(F.col("__v") == 0, F.col("__sy")).otherwise(0.0))
        .alias("__sya"),
        F.sum(F.when(F.col("__v") == 1, F.col("__sy")).otherwise(0.0))
        .alias("__syb"),
        F.sum("__sxy").alias("__sxy"),
        F.sum("__sxx").alias("__sxx"),
        F.sum("__syy").alias("__syy"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    sx = F.col("__sxa") + F.col("__sxb")
    sy = F.col("__sya") + F.col("__syb")
    cxx = n * F.col("__sxx") - sx * sx
    cxy = n * F.col("__sxy") - sx * sy
    cyy = n * F.col("__syy") - sy * sy
    theta = F.try_divide(cxy, cxx)
    effect_raw = (
        F.try_divide(F.col("__syb"), nb) - F.try_divide(F.col("__sya"), na)
    )
    effect_cuped = effect_raw - theta * (
        F.try_divide(F.col("__sxb"), nb) - F.try_divide(F.col("__sxa"), na)
    )
    var_red = F.try_divide(cxy * cxy, cxx * cyy)
    return both.select(
        "n_a", "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(effect_raw, 6).alias("effect_raw"),
        F.round(effect_cuped, 6).alias("effect_cuped"),
        F.round(var_red, 6).alias("var_reduction"),
    )


def power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B pre-flight power readout from the observed per-user metric
    distribution: the minimum detectable effect (MDE) the CURRENT
    population size supports, and the per-arm n required to detect a
    2% relative lift — both at the standard alpha = 5% two-sided /
    80% power operating point (z constants inlined as literals:
    1.959964, 0.841621). MDE = (z_a + z_b) * sqrt(2 s^2 / n_arm);
    n_2pct = 2 s^2 (z_a + z_b)^2 / (0.02 mu)^2 — the classic
    two-sample normal-approximation formulas every experimentation
    platform ships.

    One user groupBy (decimal value sums) + one 1-row moment
    aggregate; s^2 is the n-1 sample variance from @8-quantized sums.
    Returns one row (n_users, mean_metric, sd_metric, mde_abs,
    mde_rel, n_per_arm_2pct)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__m")
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    agg = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        dsum8(F.col("__m")).alias("__s"),
        dsum8(F.col("__m") * F.col("__m")).alias("__q"),
    )
    n = F.col("n_users").cast("double")
    mu = F.try_divide(F.col("__s"), n)
    s2 = F.try_divide(
        F.col("__q") - F.try_divide(F.col("__s") * F.col("__s"), n),
        n - 1,
    )
    sd = F.sqrt(F.greatest(s2, F.lit(0.0)))
    zsum = F.lit(1.959964 + 0.841621)
    mde = zsum * F.sqrt(
        F.greatest(F.try_divide(s2 * 2.0, n / 2.0), F.lit(0.0))
    )
    n_req = F.try_divide(
        s2 * 2.0 * zsum * zsum, (mu * 0.02) * (mu * 0.02)
    )
    return agg.select(
        "n_users",
        F.round(mu, 6).alias("mean_metric"),
        F.round(sd, 6).alias("sd_metric"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.try_divide(mde, mu), 6).alias("mde_rel"),
        F.ceil(n_req).cast("long").alias("n_per_arm_2pct"),
    )


def spearman_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per event type between hourly event
    COUNT and hourly mean VALUE (Spearman 1904): does busier mean
    hotter? Rank-based, so it sees any monotone relationship and
    shrugs at outliers — the robust cross-check to a raw Pearson,
    which one anomalous hour can dominate. The t approximation
    t = rho sqrt((n-2)/(1-rho^2)) is reported for n >= 4.

    Exactness: midranks doubled into INTEGERS (2r' = 2 RANK() +
    ties - 2, i.e. the textbook doubled midrank 2 RANK() + ties - 1
    shifted uniformly by -1 — a constant shift cancels in the
    Pearson correlation, and the oracle applies the same shift), all
    five moments accumulated as exact decimal(38,0), rho from one
    fixed-order double expression at the end — bitwise identical on
    both engines, no quantizers needed anywhere. Shape: one bucket
    groupBy, two rank windows + a tie-count window on the same key
    partitioning, one moment aggregate. Returns (event_type,
    n_buckets, spearman_rho, t_stat)."""
    ev = read_table(spark, sf_dir, "events")
    b = ev.filter(F.col("value").isNotNull()).groupBy(
        "event_type", time_bucket("ts", "1 hour").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        (
            F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4)
            .cast("double")
            / F.count("value")
        ).alias("__v"),
    )
    wx = ordered("event_type", "__n")
    wy = ordered("event_type", "__v")
    cx = ordered(["event_type", "__n"])
    cy = ordered(["event_type", "__v"])
    ranked = b.select(
        "event_type",
        (F.lit(2) * F.rank().over(wx) + F.count(F.lit(1)).over(cx)
         - F.lit(2)).cast("long").alias("__rx"),
        (F.lit(2) * F.rank().over(wy) + F.count(F.lit(1)).over(cy)
         - F.lit(2)).cast("long").alias("__ry"),
    )

    def isum(e):
        return F.sum(e.cast("decimal(38,0)"))

    m = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        isum(F.col("__rx")).alias("__sx"),
        isum(F.col("__ry")).alias("__sy"),
        isum(F.col("__rx").cast("decimal(19,0)")
             * F.col("__ry").cast("decimal(19,0)")).alias("__sxy"),
        isum(F.col("__rx").cast("decimal(19,0)")
             * F.col("__rx").cast("decimal(19,0)")).alias("__sxx"),
        isum(F.col("__ry").cast("decimal(19,0)")
             * F.col("__ry").cast("decimal(19,0)")).alias("__syy"),
    )
    n = F.col("n_buckets").cast("decimal(38,0)")
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    dx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    dy = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    rho = F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy))
    nd = F.col("n_buckets").cast("double")
    t = F.when(
        (F.col("n_buckets") >= 4) & rho.isNotNull()
        & (rho * rho < F.lit(1.0)),
        rho * F.sqrt((nd - F.lit(2.0)) / (F.lit(1.0) - rho * rho)),
    )
    return m.select(
        "event_type", "n_buckets",
        F.round(rho, 6).alias("spearman_rho"),
        F.round(t, 6).alias("t_stat"),
    )


def delta_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method z-test for a RATIO metric (value per event) over
    the md5 A/B user split — the correct analysis when the metric's
    denominator varies per user (Deng, Knoblich & Lu, KDD 2018): the
    naive per-event t-test pretends events are independent, but the
    randomization unit is the USER, so the variance must come from
    user-level clusters. Var(S/N) is the linearization
    U/(U-1) sum_u (s_u - R n_u)^2 / N^2 — one broadcast of the 2-row
    per-variant ratio back onto the per-user table, then one moment
    pass over the residuals (two-pass CENTERED on purpose: the
    expanded sum(s^2) identity needs 1e16-scale doubles that out-ulp
    any quantizer, the anova lesson).

    Shape: one user groupBy, a 2-row aggregate, a 2-row broadcast
    join-back, a second 2-row aggregate, one conditional-pivot row.
    Returns one row (n_users_a, n_users_b, ratio_a, ratio_b, diff,
    z_score, significant_95)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__s"),
        F.count("value").cast("long").alias("__n"),
    )
    tagged = per_user.select(_ab_variant().alias("__v"), "__s", "__n")

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    g = tagged.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__u"),
        dsum8(F.col("__s")).alias("__ss"),
        F.sum("__n").cast("long").alias("__sn"),
    ).select(
        "__v", "__u", "__sn",
        F.try_divide(F.col("__ss"), F.col("__sn").cast("double"))
        .alias("__r"),
    )
    resid = tagged.join(F.broadcast(g), "__v").select(
        "__v",
        F.round(
            F.col("__s") - F.col("__r") * F.col("__n").cast("double"), 6
        ).alias("__d"),
    )
    g2 = resid.groupBy("__v").agg(
        F.round(
            F.sum(F.round(F.col("__d") * F.col("__d"), 6)
                  .cast("decimal(30,6)")), 6,
        ).cast("double").alias("__sd2")
    )
    both = g.join(g2, "__v")

    def pick(v, c):
        return F.max(F.when(F.col("__v") == v, F.col(c)))

    row = both.agg(
        pick(0, "__u").alias("n_users_a"),
        pick(1, "__u").alias("n_users_b"),
        pick(0, "__r").alias("__ra"), pick(1, "__r").alias("__rb"),
        pick(0, "__sd2").alias("__da"), pick(1, "__sd2").alias("__db"),
        pick(0, "__sn").alias("__na"), pick(1, "__sn").alias("__nb"),
    )
    ua = F.col("n_users_a").cast("double")
    ub = F.col("n_users_b").cast("double")
    # se^2 = U/(U-1) * sum d^2 / N^2, in this exact op order
    va = F.try_divide(ua, ua - F.lit(1.0)) * F.try_divide(
        F.col("__da"),
        F.col("__na").cast("double") * F.col("__na").cast("double"),
    )
    vb = F.try_divide(ub, ub - F.lit(1.0)) * F.try_divide(
        F.col("__db"),
        F.col("__nb").cast("double") * F.col("__nb").cast("double"),
    )
    z = F.try_divide(
        F.col("__rb") - F.col("__ra"),
        F.sqrt(F.greatest(va + vb, F.lit(0.0))),
    )
    return row.select(
        "n_users_a", "n_users_b",
        F.round("__ra", 6).alias("ratio_a"),
        F.round("__rb", 6).alias("ratio_b"),
        F.round(F.col("__rb") - F.col("__ra"), 6).alias("diff"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) >= F.lit(1.959964)).alias("significant_95"),
    )


def bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (Benjamini & Hochberg 1995)
    over the per-event-type family of A/B Welch tests: run one Welch
    t per event type on per-user value sums under the shared md5
    split, convert to a two-sided normal-approximation p (the
    [[agg_welch_t]] df-in-the-thousands convention), then adjust the
    whole family — p_adj(i) = min_{j>=i} p(j) m / j, the step-up
    procedure every metrics platform applies before anyone reads a
    dashboard of twenty 'significant' metrics. Reports the full
    family so the 5%-FDR verdict is auditable per metric.

    Phi via the Abramowitz-Stegun 26.2.17 polynomial (|err| < 7.5e-8,
    far above the @6 report precision; one exp() — the agg_survival_km
    cross-engine precedent). Shape: one (user, event_type) groupBy,
    one k-row aggregate, two k-row windows (rank, suffix running
    min). Returns (event_type, n_a, n_b, t_stat, p_value, bh_rank,
    p_adj, rejected_fdr05)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__m")
    )
    tagged = per_user.select(
        "event_type", _ab_variant().alias("__v"), "__m"
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    agg = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        dsum8(F.when(F.col("__v") == 0, F.col("__m"))).alias("__sa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__m"))).alias("__sb"),
        dsum8(F.when(F.col("__v") == 0, F.col("__m") * F.col("__m")))
        .alias("__qa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__m") * F.col("__m")))
        .alias("__qb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.try_divide(F.col("__sa"), na)
    mb = F.try_divide(F.col("__sb"), nb)
    va = F.try_divide(
        F.col("__qa") - F.try_divide(F.col("__sa") * F.col("__sa"), na),
        na - 1,
    )
    vb = F.try_divide(
        F.col("__qb") - F.try_divide(F.col("__sb") * F.col("__sb"), nb),
        nb - 1,
    )
    t = F.try_divide(
        mb - ma,
        F.sqrt(F.greatest(F.try_divide(va, na) + F.try_divide(vb, nb),
                          F.lit(0.0))),
    )
    # two-sided normal p via A-S 26.2.17: p = 2 phi(|t|) poly(k)
    ax = F.abs(t)
    k = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * ax)
    poly = k * (
        F.lit(0.319381530) + k * (
            F.lit(-0.356563782) + k * (
                F.lit(1.781477937) + k * (
                    F.lit(-1.821255978) + k * F.lit(1.330274429)
                )
            )
        )
    )
    phi = F.exp(F.lit(-0.5) * ax * ax) * F.lit(0.3989422804014327)
    p = F.least(F.lit(2.0) * phi * poly, F.lit(1.0))
    scored = agg.select(
        "event_type", "n_a", "n_b",
        F.round(t, 6).alias("t_stat"),
        p.alias("__p"),
    ).filter(F.col("__p").isNotNull())
    wr = ordered([], "__p", "event_type")
    wm = ordered([], F.col("__p").desc_nulls_last(),
                 F.col("event_type").desc_nulls_last(), rows=(None, 0))
    mtot = ordered([])
    ranked = scored.select(
        "event_type", "n_a", "n_b", "t_stat", "__p",
        F.row_number().over(wr).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(mtot).cast("double").alias("__mm"),
    )
    adj = F.least(
        F.min(
            F.col("__p") * F.col("__mm")
            / F.col("bh_rank").cast("double")
        ).over(wm),
        F.lit(1.0),
    )
    return ranked.select(
        "event_type", "n_a", "n_b", "t_stat",
        F.round("__p", 6).alias("p_value"),
        "bh_rank",
        F.round(adj, 6).alias("p_adj"),
        (adj <= F.lit(0.05)).alias("rejected_fdr05"),
    )


def poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for mean per-user total value (Chamandy
    et al., Google 2012, 'Estimating uncertainty for massive data
    streams'): classical resampling needs n draws WITH replacement —
    impossible to coordinate across executors — but Binomial(n, 1/n)
    -> Poisson(1), so each user independently receives a deterministic
    Poisson(1) weight per replicate (inverse-CDF over a md5-derived
    uniform: first 13 hex nibbles / 2^52, thresholds at the exact
    Poisson(1) CDF literals) and every replicate reduces map-side in
    one pass. THE scalable bootstrap: no coordination, no second
    scan, B=40 replicates as one explode + one 40-group aggregate.

    CI endpoints are empirical order statistics of the replicate
    means (2nd and 39th of 40 ~ the 2.5%/97.5% band without engine-
    specific quantile interpolation); boot_se from @8-quantized
    moments over the 40 replicate means. Returns one row (n_users,
    n_boot, point_mean, boot_se, ci_lo, ci_hi)."""
    B = 40
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__x")
    )
    rep = per_user.select(
        "user_id", "__x",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("__b"),
    )
    u01 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pb:"),
                               F.col("user_id").cast("string"),
                               F.lit(":"),
                               F.col("__b").cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("long").cast("double")
        / F.lit(4503599627370496.0)
    )
    w = (
        F.when(u01 < F.lit(0.36787944117144233), 0)
        .when(u01 < F.lit(0.7357588823428847), 1)
        .when(u01 < F.lit(0.9196986029286058), 2)
        .when(u01 < F.lit(0.9810118431238463), 3)
        .when(u01 < F.lit(0.9963401531726563), 4)
        .when(u01 < F.lit(0.9994058151824183), 5)
        .otherwise(6)
    )
    weighted = rep.select("__b", "__x", w.cast("long").alias("__w"))
    per_rep = weighted.groupBy("__b").agg(
        F.sum("__w").cast("long").alias("__nw"),
        F.round(
            F.sum(F.round(F.col("__x") * F.col("__w").cast("double"), 8)
                  .cast("decimal(30,8)")), 8,
        ).cast("double").alias("__sx"),
    ).select(
        "__b",
        F.try_divide(F.col("__sx"), F.col("__nw").cast("double"))
        .alias("__mean"),
    )
    wr = ordered([], "__mean", "__b")
    by_mean = per_rep.select(
        "__mean", F.row_number().over(wr).alias("__rn")
    )
    base = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.try_divide(
                F.round(F.sum(F.round(F.col("__x"), 8)
                              .cast("decimal(30,8)")), 8).cast("double"),
                F.count(F.lit(1)).cast("double"),
            ), 6,
        ).alias("point_mean"),
    )
    stats = by_mean.agg(
        F.count(F.lit(1)).cast("long").alias("n_boot"),
        F.round(
            F.sum(F.round(F.col("__mean"), 8).cast("decimal(30,8)")), 8
        ).cast("double").alias("__sm"),
        F.round(
            F.sum(F.round(F.col("__mean") * F.col("__mean"), 8)
                  .cast("decimal(30,8)")), 8,
        ).cast("double").alias("__sq"),
        F.max(F.when(F.col("__rn") == 2, F.col("__mean")))
        .alias("__lo"),
        F.max(F.when(F.col("__rn") == B - 1, F.col("__mean")))
        .alias("__hi"),
    )
    bd = F.col("n_boot").cast("double")
    var = F.try_divide(
        F.col("__sq") - F.try_divide(F.col("__sm") * F.col("__sm"), bd),
        bd - F.lit(1.0),
    )
    return base.crossJoin(F.broadcast(stats)).select(
        "n_users", "n_boot", "point_mean",
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("boot_se"),
        F.round("__lo", 6).alias("ci_lo"),
        F.round("__hi", 6).alias("ci_hi"),
    )


def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per nation (the
    DOJ/FTC market-concentration index): HHI = sum over customers of
    (revenue share)^2 — 1/N for a perfectly even market, 1.0 for a
    monopoly. Complements [[agg_gini]] (inequality of the
    distribution) with the antitrust-style concentration readout and
    its two standard companions: normalized HHI ((H - 1/N)/(1 - 1/N))
    and effective customer count (1/H, the 'numbers equivalent').

    Exactness: per-customer revenue is an exact decimal(30,2) sum,
    squared in decimal (still exact), so HHI = sum(rev^2)/total^2
    needs NO per-share quantizer at all — two exact decimals and one
    fixed-order double division. Shape: one orders groupBy on
    custkey, a broadcast of the |customer|-bounded nation dim, one
    nation aggregate. Returns (n_name, n_customers, hhi,
    hhi_normalized, effective_n)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(30,2)"))
        .alias("__rev")
    )
    tagged = rev.join(
        F.broadcast(
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select(F.col("c_custkey").alias("o_custkey"), "n_name")
        ),
        "o_custkey",
    )
    g = tagged.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("__rev").cast("decimal(19,2)")
              * F.col("__rev").cast("decimal(19,2)")).alias("__sq"),
        F.sum("__rev").alias("__tot"),
    )
    hhi = F.col("__sq").cast("double") / (
        F.col("__tot").cast("decimal(19,2)")
        * F.col("__tot").cast("decimal(19,2)")
    ).cast("double")
    nd = F.col("n_customers").cast("double")
    norm = F.when(
        F.col("n_customers") > 1,
        (hhi - F.lit(1.0) / nd) / (F.lit(1.0) - F.lit(1.0) / nd),
    )
    return g.select(
        "n_name", "n_customers",
        F.round(hhi, 6).alias("hhi"),
        F.round(norm, 6).alias("hhi_normalized"),
        F.round(F.lit(1.0) / hhi, 6).alias("effective_n"),
    )


def pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue — the
    inventory-control classic: rank parts by revenue descending and
    split at 80% / 95% cumulative share (A = the vital few, B, C =
    the trivial many); report each class's size and revenue share.
    The actionable sibling of [[agg_lorenz]]: same curve, but cut at
    the operating thresholds every supply-chain policy uses.

    Scale shape: the global cumulative window runs over the
    PER-PART aggregate (|parts| rows, not |lineitem|), which Spark
    range-partitions for the sort; the class cut is a single pass.
    Revenue accumulates in exact decimal (the dsum convention at @2:
    cents are exact), cumulative share is one double division, and
    the boundary row (cum share exactly 0.80) classes as A on both
    engines — decimal in, identical IEEE division out. Returns 3
    rows (abc_class, n_parts, revenue, revenue_share)."""
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ).cast("decimal(30,8)")
            ), 2,
        ).alias("__rev")
    )
    w = ordered([], F.col("__rev").desc_nulls_last(), "l_partkey",
                rows=(None, 0))
    tot = ordered([])
    cum = (
        F.sum("__rev").over(w).cast("double")
        / F.sum("__rev").over(tot).cast("double")
    )
    classed = per_part.select(
        "__rev",
        F.when(cum <= 0.80, "A").when(cum <= 0.95, "B")
        .otherwise("C").alias("abc_class"),
    )
    g = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("__rev").cast("decimal(30,2)")).alias("__crev"),
    )
    gt = ordered([])
    return g.select(
        "abc_class", "n_parts",
        F.col("__crev").cast("double").alias("revenue"),
        F.round(
            F.col("__crev").cast("double")
            / F.sum("__crev").over(gt).cast("double"), 6,
        ).alias("revenue_share"),
    ).orderBy("abc_class")


def msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitor (mSPRT, Johari, Pekelis &
    Walsh 2017 — the 'peeking problem' fix every experimentation
    platform ships): for each day of the experiment, the mixture
    sequential probability ratio for the cumulative mean difference
    under the md5 user split, with the mixture variance tied to the
    pooled data variance (tau^2 = sigma^2, the scale-free default).
    The always-valid p is the running minimum of 1/Lambda clamped to
    1 — valid at EVERY look, so 'significant today' cannot be
    un-peeked tomorrow. Membership is by the user's md5 variant;
    observations are per-event values accumulated by calendar day.

    Log-domain throughout (log Lambda = -ln(1+n)/2 +
    n^2 theta^2 / (2 sigma^2 (1+n)) with n the harmonic per-arm
    size), so nothing overflows; one exp() at the p conversion (the
    agg_survival_km precedent). Shape: one (day, variant) aggregate,
    cumulative decimal window sums over the |days|-bounded table,
    closed-form algebra. Returns one row per day (day, n_a, n_b,
    theta_hat, log_lambda, p_always_valid, significant_05)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.filter(F.col("value").isNotNull()).groupBy(
        F.date_trunc("day", "ts").alias("day"), _ab_variant().alias("__v")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.round(F.col("value"), 8).cast("decimal(30,8)"))
        .alias("__s"),
        F.sum(F.round(F.col("value") * F.col("value"), 8)
              .cast("decimal(30,8)")).alias("__q"),
    )
    # RANGE frame, not ROWS: both variants' rows for the same day are
    # frame peers, so every row's cumulative covers the full day
    # regardless of intra-day row order (sign-safe, unlike a max-fix)
    wc = ordered([], "day", range=(None, 0))

    def cum(v, col):
        e = F.when(F.col("__v") == v, F.col(col))
        if col == "__n":
            return F.sum(e).over(wc).cast("long")
        return F.round(F.sum(e).over(wc), 8).cast("double")

    pivoted = daily.select(
        "day",
        cum(0, "__n").alias("na"), cum(1, "__n").alias("nb"),
        cum(0, "__s").alias("sa"), cum(1, "__s").alias("sb"),
        cum(0, "__q").alias("qa"), cum(1, "__q").alias("qb"),
    ).groupBy("day").agg(
        F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
        F.max("sa").alias("__sa"), F.max("sb").alias("__sb"),
        F.max("qa").alias("__qa"), F.max("qb").alias("__qb"),
    ).filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    theta = F.col("__sb") / nb - F.col("__sa") / na
    sig2 = F.try_divide(
        (F.col("__qa") - F.col("__sa") * F.col("__sa") / na)
        + (F.col("__qb") - F.col("__sb") * F.col("__sb") / nb),
        na + nb - F.lit(2.0),
    )
    neff = na * nb / (na + nb)
    loglam = F.lit(-0.5) * F.log(F.lit(1.0) + neff) + F.try_divide(
        neff * neff * theta * theta,
        F.lit(2.0) * sig2 * (F.lit(1.0) + neff),
    )
    p_day = F.least(F.exp(-loglam), F.lit(1.0))
    wmin = ordered([], "day", rows=(None, 0))
    staged = pivoted.select(
        "day", "n_a", "n_b",
        F.round(theta, 6).alias("theta_hat"),
        F.round(loglam, 6).alias("log_lambda"),
        p_day.alias("__p"),
    )
    pav = F.min("__p").over(wmin)
    return staged.select(
        "day", "n_a", "n_b", "theta_hat", "log_lambda",
        F.round(pav, 6).alias("p_always_valid"),
        (pav <= F.lit(0.05)).alias("significant_05"),
    )


def ks_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the md5 A/B arms on
    per-user total value — the DISTRIBUTION-level A/B readout: a
    treatment that moves the tails but not the mean sails through
    [[agg_welch_t]] and [[agg_mann_whitney]] yet shows up here,
    because D = max_x |F_a(x) - F_b(x)| sees every quantile at once.
    Same exact-ECDF machinery as [[ts_ks_drift]] (RANGE-frame ties,
    cumulative counts, max gap), same large-sample critical value
    c(0.05) sqrt((n_a+n_b)/(n_a n_b)) with c = 1.358.

    The global sort runs over the per-USER aggregate (|users| rows,
    the agg_gini convention), not raw events. Returns one row
    (n_a, n_b, ks_d, ks_crit, significant_95)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__m")
    )
    tagged = per_user.select(
        "__m",
        (F.lit(1) - _ab_variant().cast("int")).alias("__a"),
    )
    w = ordered([], "__m", range=(None, 0))
    wall = ordered([])
    staged = tagged.select(
        F.sum("__a").over(w).alias("__ca"),
        F.sum(1 - F.col("__a")).over(w).alias("__cb"),
        F.sum("__a").over(wall).alias("__na"),
        F.sum(1 - F.col("__a")).over(wall).alias("__nb"),
    )
    # try_divide: a corpus whose users all hash to one arm leaves the
    # other total at 0; NULL ECDF (matching DuckDB /0) beats an ANSI
    # DIVIDE_BY_ZERO abort
    gap = F.abs(
        F.try_divide(F.col("__ca").cast("double"), F.col("__na"))
        - F.try_divide(F.col("__cb").cast("double"), F.col("__nb"))
    )
    out = staged.agg(
        F.min("__na").cast("long").alias("n_a"),
        F.min("__nb").cast("long").alias("n_b"),
        F.max(gap).alias("__d"),
    )
    crit = F.lit(1.358) * F.sqrt(
        F.try_divide(
            (F.col("n_a") + F.col("n_b")).cast("double"),
            (F.col("n_a") * F.col("n_b")).cast("double"),
        )
    )
    return out.select(
        "n_a", "n_b",
        F.round("__d", 6).alias("ks_d"),
        F.round(crit, 6).alias("ks_crit"),
        (F.col("__d") > crit).alias("significant_95"),
    )


def quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects at the nine deciles (Doksum 1974 /
    the modern heterogeneous-effects readout): QTE(p) = Q_b(p) -
    Q_a(p) of per-user total value under the md5 split. A flat QTE
    curve means a uniform shift (the mean told the whole story); an
    upper-decile-only effect means the treatment moved the whales —
    a pattern [[agg_ab_test]], [[agg_welch_t]] and even
    [[agg_ks_ab]]'s single D statistic cannot localize.

    Exact interpolated percentiles per arm (the agg_percentiles
    convention), one 2-row aggregate + posexplode of the decile
    array. Returns 9 rows (quantile, q_a, q_b, qte)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(30,8)")), 8)
        .cast("double").alias("__m")
    )
    ps = ", ".join(str((i + 1) / 10.0) for i in range(9))
    g = per_user.select(_ab_variant().alias("__v"), "__m").groupBy(
        "__v"
    ).agg(F.expr(f"percentile(__m, array({ps}))").alias("__qs"))
    ex = g.select("__v", F.posexplode("__qs").alias("__i", "__q"))
    piv = ex.groupBy("__i").agg(
        F.max(F.when(F.col("__v") == 0, F.col("__q"))).alias("__qa"),
        F.max(F.when(F.col("__v") == 1, F.col("__q"))).alias("__qb"),
    )
    return piv.select(
        ((F.col("__i") + 1).cast("double") / F.lit(10.0))
        .alias("quantile"),
        F.round("__qa", 6).alias("q_a"),
        F.round("__qb", 6).alias("q_b"),
        F.round(F.col("__qb") - F.col("__qa"), 6).alias("qte"),
    )


def eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates (Robbins 1956; the Efron-Morris 'baseball' recipe): fit a
    Beta(alpha, beta) prior to the observed per-user rates by method
    of moments (alpha+beta = m(1-m)/v - 1), then report each user's
    posterior-mean rate (alpha + x_u)/(alpha + beta + n_u). A user
    with 3 events no longer gets rate 0.33 from one purchase — they
    shrink hard toward the population; heavy users barely move. THE
    fix for every 'top converters' leaderboard that is secretly a
    low-n lottery. If the rates show no overdispersion (v <= 0 or
    the MoM prior degenerates) shrinkage is a no-op and the raw rate
    is reported, documented rather than a NULL surprise.

    One user groupBy + a 1-row broadcast of the MoM prior; every
    moment @8-quantized decimal. Returns (user_id, n_events,
    n_conversions, rate_raw, rate_shrunk)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("n_conversions"),
    ).select(
        "user_id", "n_events", "n_conversions",
        (F.col("n_conversions").cast("double")
         / F.col("n_events").cast("double")).alias("__r"),
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    prior = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("__k"),
        dsum8(F.col("__r")).alias("__s1"),
        dsum8(F.col("__r") * F.col("__r")).alias("__s2"),
    ).select(
        (F.col("__s1") / F.col("__k")).alias("__mm"),
        F.try_divide(
            F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__k"),
            F.col("__k") - F.lit(1.0),
        ).alias("__vv"),
    ).select(
        "__mm", "__vv",
        F.when(
            (F.col("__vv") > 0)
            & (F.col("__mm") * (F.lit(1.0) - F.col("__mm"))
               > F.col("__vv")),
            F.col("__mm") * (F.lit(1.0) - F.col("__mm")) / F.col("__vv")
            - F.lit(1.0),
        ).alias("__ab"),
    )
    joined = per_user.crossJoin(F.broadcast(prior))
    alpha = F.col("__mm") * F.col("__ab")
    shrunk = F.when(
        F.col("__ab").isNotNull() & (F.col("__ab") > 0),
        (alpha + F.col("n_conversions").cast("double"))
        / (F.col("__ab") + F.col("n_events").cast("double")),
    ).otherwise(F.col("__r"))
    return joined.select(
        "user_id", "n_events", "n_conversions",
        F.round("__r", 6).alias("rate_raw"),
        F.round(shrunk, 6).alias("rate_shrunk"),
    )


def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period difference-in-differences (Card & Krueger 1994
    canon): the change in per-user value from the pre-period to the
    post-period (split at the [[agg_cuped]] integer-microsecond
    midpoint) in arm B minus the same change in arm A — the parallel-
    trends causal readout that survives any level difference between
    the arms AND any common shock between the periods, which a plain
    post-period comparison ([[agg_welch_t]]) conflates with the
    treatment. With user fixed effects the estimator reduces to a
    Welch test on per-user (post - pre) deltas, which is exactly how
    it's computed: one user groupBy, one 2-row aggregate.

    Returns one row (n_a, n_b, pre_a, post_a, pre_b, post_b, did,
    z_score, significant_95); the four cell means make the
    parallel-trends story auditable next to the estimate."""
    ev = read_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("__mid")
    )
    per_user = ev.crossJoin(F.broadcast(mid)).groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(F.unix_micros("ts") < F.col("__mid"),
                       F.col("value")).cast("decimal(30,8)")
            ), 8,
        ).cast("double").alias("__x0"),
        F.round(
            F.sum(
                F.when(F.unix_micros("ts") >= F.col("__mid"),
                       F.col("value")).cast("decimal(30,8)")
            ), 8,
        ).cast("double").alias("__y0"),
    ).select(
        "user_id",
        F.coalesce(F.col("__x0"), F.lit(0.0)).alias("__x"),
        F.coalesce(F.col("__y0"), F.lit(0.0)).alias("__y"),
    )
    tagged = per_user.select(
        _ab_variant().alias("__v"), "__x", "__y",
        (F.col("__y") - F.col("__x")).alias("__d"),
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    g = tagged.agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        dsum8(F.when(F.col("__v") == 0, F.col("__x"))).alias("__xa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__x"))).alias("__xb"),
        dsum8(F.when(F.col("__v") == 0, F.col("__y"))).alias("__ya"),
        dsum8(F.when(F.col("__v") == 1, F.col("__y"))).alias("__yb"),
        dsum8(F.when(F.col("__v") == 0, F.col("__d"))).alias("__sa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__d"))).alias("__sb"),
        dsum8(F.when(F.col("__v") == 0, F.col("__d") * F.col("__d")))
        .alias("__qa"),
        dsum8(F.when(F.col("__v") == 1, F.col("__d") * F.col("__d")))
        .alias("__qb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    da = F.try_divide(F.col("__sa"), na)
    db = F.try_divide(F.col("__sb"), nb)
    va = F.try_divide(
        F.col("__qa") - F.try_divide(F.col("__sa") * F.col("__sa"), na),
        na - 1,
    )
    vb = F.try_divide(
        F.col("__qb") - F.try_divide(F.col("__sb") * F.col("__sb"), nb),
        nb - 1,
    )
    did = db - da
    z = F.try_divide(
        did,
        F.sqrt(F.greatest(F.try_divide(va, na) + F.try_divide(vb, nb),
                          F.lit(0.0))),
    )
    return g.select(
        "n_a", "n_b",
        F.round(F.try_divide(F.col("__xa"), na), 6).alias("pre_a"),
        F.round(F.try_divide(F.col("__ya"), na), 6).alias("post_a"),
        F.round(F.try_divide(F.col("__xb"), nb), 6).alias("pre_b"),
        F.round(F.try_divide(F.col("__yb"), nb), 6).alias("post_b"),
        F.round(did, 6).alias("did"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) >= F.lit(1.959964)).alias("significant_95"),
    )


def price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indexes between the two
    halves of the shipping calendar (the national-statistics-office
    classics, Fisher 1922): did unit prices rise, holding the basket
    fixed at base-period quantities (Laspeyres), at current-period
    quantities (Paasche), or geometrically between (Fisher, the
    'ideal' index that passes the time-reversal test)? L > P is the
    substitution signature — buyers shifted toward the items whose
    relative price fell. Only parts traded in BOTH periods enter
    (the matched-model convention).

    Per (part, period): unit price = decimal revenue / decimal
    quantity (extendedprice is quantity-scaled in this schema);
    index terms p x q rounded @4 into decimal sums; the split is the
    integer-microsecond shipdate midpoint (the cuped convention).
    One lineitem groupBy + one self-aligned part join + one 1-row
    aggregate. Returns one row (n_parts_common, laspeyres, paasche,
    fisher)."""
    li = read_table(spark, sf_dir, "lineitem")
    mid = li.agg(
        F.expr(
            "(min(unix_micros(l_shipdate))"
            " + max(unix_micros(l_shipdate))) div 2"
        ).alias("__mid")
    )
    per = li.crossJoin(F.broadcast(mid)).groupBy(
        "l_partkey",
        (F.unix_micros("l_shipdate") >= F.col("__mid"))
        .cast("int").alias("__p"),
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(30,8)")), 4)
        .cast("double").alias("__rev"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(30,8)")), 4)
        .cast("double").alias("__qty"),
    ).select(
        "l_partkey", "__p", "__qty",
        (F.col("__rev") / F.col("__qty")).alias("__price"),
    )
    base = per.filter(F.col("__p") == 0).select(
        "l_partkey", F.col("__price").alias("__p0"),
        F.col("__qty").alias("__q0"),
    )
    curr = per.filter(F.col("__p") == 1).select(
        "l_partkey", F.col("__price").alias("__p1"),
        F.col("__qty").alias("__q1"),
    )
    j = base.join(curr, "l_partkey")

    def dsum4(e):
        return F.round(F.sum(F.round(e, 4).cast("decimal(30,4)")), 4).cast(
            "double"
        )

    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_common"),
        dsum4(F.col("__p1") * F.col("__q0")).alias("__l_num"),
        dsum4(F.col("__p0") * F.col("__q0")).alias("__l_den"),
        dsum4(F.col("__p1") * F.col("__q1")).alias("__p_num"),
        dsum4(F.col("__p0") * F.col("__q1")).alias("__p_den"),
    )
    lasp = F.col("__l_num") / F.col("__l_den")
    paas = F.col("__p_num") / F.col("__p_den")
    return g.select(
        "n_parts_common",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


def markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain (Shannon 1948,
    ch. 7): H = sum_i pi_i H_i bits/step, with H_i the entropy of
    state i's outgoing transition row and pi the empirical state
    occupancy — how PREDICTABLE is the next action given the current
    one? The one-number compression bound for the behavior stream:
    log2(k) means actions are dice rolls, near 0 means journeys are
    rails. The information-theoretic readout ON TOP of
    [[agg_markov]]'s raw transition matrix (same lag window, same
    counts). Reported per state with the chain total repeated, so
    the high-entropy states (where prediction is hopeless) are
    visible next to the rate.

    Shape: one lag window + one (prev, next) groupBy; everything
    after is k- and k^2-row algebra. ln via both engines (the
    survival_km precedent) scaled by the shared LN2 literal; p*ln(p)
    terms @8-quantized. Returns (state, n_transitions,
    row_entropy_bits, occupancy, entropy_rate_bits)."""
    ev = read_table(spark, sf_dir, "events")
    w = ordered("user_id", "ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("__prev"),
        F.col("event_type").alias("__next"),
    ).filter(F.col("__prev").isNotNull())
    counts = pairs.groupBy("__prev", "__next").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    row_tot = F.sum("__n").over(ordered("__prev"))
    p = F.col("__n").cast("double") / row_tot.cast("double")
    _LN2 = 0.6931471805599453
    term = F.round(
        -(p * F.log(p)) / F.lit(_LN2), 8
    ).cast("decimal(30,8)")
    rows = counts.select(
        "__prev", "__n", term.alias("__t")
    ).groupBy("__prev").agg(
        F.sum("__n").cast("long").alias("n_transitions"),
        F.round(F.sum("__t"), 8).cast("double").alias("__h"),
    )
    total = ordered([])
    occ = (
        F.col("n_transitions").cast("double")
        / F.sum("n_transitions").over(total).cast("double")
    )
    staged = rows.select(
        F.col("__prev").alias("state"), "n_transitions",
        F.round("__h", 6).alias("row_entropy_bits"),
        F.round(occ, 6).alias("occupancy"),
        F.round(occ * F.col("__h"), 8).cast("decimal(30,8)")
        .alias("__c"),
    )
    rate = staged.agg(
        F.round(F.sum("__c"), 8).cast("double").alias("__rate")
    )
    return staged.drop("__c").crossJoin(F.broadcast(rate)).select(
        "state", "n_transitions", "row_entropy_bits", "occupancy",
        F.round("__rate", 6).alias("entropy_rate_bits"),
    )


def stratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B effect over activity deciles (the classic
    variance-reduction estimator, Cochran 1977 ch.5A; the
    non-parametric sibling of [[agg_cuped]]'s regression adjustment):
    users are split into 10 strata by their EVENT COUNT (a
    pre-treatment covariate under the md5 assignment), the
    within-stratum mean difference of total value is computed per
    stratum, and the stratum rows carry the weight n_h/N that a
    pooled post-stratified estimate would use. A heavy-activity
    stratum whose diff dwarfs the rest localizes WHERE the effect
    lives — the readout [[agg_ab_test]]'s single diff and
    [[agg_qte]]'s marginal quantiles both blur.

    Exactness: per-user outcomes are decimal-rounded @4 (the
    user_features convention); strata via ntile(10) over
    (n_events, user_id) — a total order, so both engines cut
    identical strata; within-stratum means are one decimal sum /
    count; the global ntile window sits over the per-user AGGREGATE
    (150 rows at sf0.01, never raw events). Returns (stratum, n_a,
    n_b, mean_a, mean_b, diff, weight) ordered by stratum."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n_ev"),
        F.round(
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))
                  .cast("decimal(30,8)")),
            4,
        ).cast("double").alias("__y"),
    ).select(
        "user_id", "__n_ev", "__y", _ab_variant().alias("__v")
    )
    w = ordered([], "__n_ev", "user_id")
    staged = per_user.select(
        "__v", "__y", F.ntile(10).over(w).alias("stratum")
    )
    per_stratum = staged.groupBy("stratum").agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        F.round(
            F.sum(F.when(F.col("__v") == 0, F.col("__y"))
                  .cast("decimal(30,8)")),
            4,
        ).cast("double").alias("__sa"),
        F.round(
            F.sum(F.when(F.col("__v") == 1, F.col("__y"))
                  .cast("decimal(30,8)")),
            4,
        ).cast("double").alias("__sb"),
    )
    # total user count via an unordered window over the 10-row
    # aggregate — a crossJoin against a second aggregate re-executed
    # the whole per-user pass on both sides (2 scans, caught by the
    # scan-budget lint)
    nt = F.sum(
        (F.col("n_a") + F.col("n_b")).cast("double")
    ).over(ordered([]))
    mean_a = F.try_divide(F.col("__sa"), F.col("n_a").cast("double"))
    mean_b = F.try_divide(F.col("__sb"), F.col("n_b").cast("double"))
    return (
        per_stratum.withColumn("__nt", nt)
        .select(
            F.col("stratum").cast("long").alias("stratum"),
            "n_a", "n_b",
            F.round(mean_a, 6).alias("mean_a"),
            F.round(mean_b, 6).alias("mean_b"),
            F.round(mean_b - mean_a, 6).alias("diff"),
            F.round(
                (F.col("n_a") + F.col("n_b")).cast("double")
                / F.col("__nt"),
                6,
            ).alias("weight"),
        )
        .orderBy("stratum")
    )


def iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable Wald estimator under the encouragement
    design (Angrist, Imbens & Rubin 1996): the md5 split is the
    INSTRUMENT Z, "user made >= 1 purchase" is the observed TREATMENT
    D, total value is the outcome Y. LATE = ITT_Y / ITT_D — the
    effect of purchasing on the value of users the encouragement
    actually moved. This is the estimator for the ubiquitous
    production case where the experiment can only ENCOURAGE a
    behavior (a prompt, a banner) but compliance is the user's
    choice, making the naive purchaser-vs-non-purchaser comparison
    ([[agg_ab_test]] on D) confounded.

    Exactness: per-user (Y, D, Z) built in one aggregate (Y
    decimal-rounded @4, D an exact 0/1, Z the shared [[agg_srm]]
    split); arm sums are decimal; the three ratios are fixed-order
    doubles with try_divide (a zero first stage — nobody complied —
    yields NULL, matching DuckDB /0). Returns one row (n_users,
    itt_y, itt_d, late)."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))
                  .cast("decimal(30,8)")),
            4,
        ).cast("double").alias("__y"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("__d"),
    ).select("__y", "__d", _ab_variant().alias("__z"))
    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("__z") == 1, 1).otherwise(0))
        .cast("long").alias("__n1"),
        F.sum(F.when(F.col("__z") == 0, 1).otherwise(0))
        .cast("long").alias("__n0"),
        F.round(
            F.sum(F.when(F.col("__z") == 1, F.col("__y"))
                  .cast("decimal(30,8)")),
            4,
        ).cast("double").alias("__sy1"),
        F.round(
            F.sum(F.when(F.col("__z") == 0, F.col("__y"))
                  .cast("decimal(30,8)")),
            4,
        ).cast("double").alias("__sy0"),
        F.sum(F.when(F.col("__z") == 1, F.col("__d")).otherwise(0))
        .cast("long").alias("__sd1"),
        F.sum(F.when(F.col("__z") == 0, F.col("__d")).otherwise(0))
        .cast("long").alias("__sd0"),
    )
    itt_y = (
        F.try_divide(F.col("__sy1"), F.col("__n1").cast("double"))
        - F.try_divide(F.col("__sy0"), F.col("__n0").cast("double"))
    )
    itt_d = (
        F.try_divide(F.col("__sd1").cast("double"),
                     F.col("__n1").cast("double"))
        - F.try_divide(F.col("__sd0").cast("double"),
                       F.col("__n0").cast("double"))
    )
    return m.select(
        "n_users",
        F.round(itt_y, 6).alias("itt_y"),
        F.round(itt_d, 6).alias("itt_d"),
        F.round(F.try_divide(itt_y, itt_d), 6).alias("late"),
    )


def theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality index of customer revenue, decomposed by
    market segment (Theil 1967, Economics and Information Theory —
    the one inequality measure that decomposes EXACTLY into
    between-group + within-group parts, which [[agg_gini]] and
    [[agg_lorenz]] cannot): per segment g, the within-group index
    T_g = (1/n_g) Σ (y/μ_g)·ln(y/μ_g), the decomposition weight
    w_g = (n_g/N)(μ_g/μ), and the between-group term
    (n_g/N)(μ_g/μ)·ln(μ_g/μ). T_total = Σ w_g·T_g + Σ between_g —
    the identity says HOW MUCH of revenue concentration is segment
    mix vs whale customers inside a segment, which decides whether
    rebalancing segments or capping whales changes anything.

    Shape: one orders groupBy (per-customer revenue, decimal @4), a
    broadcast customer-dim join for the segment, one segment window
    (decimal mean) + one unordered all-rows window for the grand mean
    over the |customers| aggregate, ln terms @8-quantized into
    decimal sums, a 5-row segment rollup. Returns (segment,
    n_customers, mean_revenue, theil_within, weight, between_term)
    ordered by segment."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    per = o.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,8)")), 4
        ).cast("double").alias("__y")
    ).filter(F.col("__y") > 0)
    seg = per.join(
        F.broadcast(c.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_mktsegment").alias("segment"),
        )),
        "o_custkey",
    )
    wg = ordered("segment")
    wall = ordered([])
    mu_g = (
        F.round(F.sum(F.col("__y").cast("decimal(30,8)")).over(wg), 4)
        .cast("double")
        / F.count("__y").over(wg)
    )
    mu = (
        F.round(F.sum(F.col("__y").cast("decimal(30,8)")).over(wall), 4)
        .cast("double")
        / F.count("__y").over(wall)
    )
    staged = seg.select(
        "segment", "__y",
        mu_g.alias("__mg"),
        mu.alias("__mu"),
        F.count("__y").over(wall).alias("__nt"),
    )
    r = F.col("__y") / F.col("__mg")
    term = F.round(r * F.log(r), 8).cast("decimal(30,8)")
    g = staged.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.max("__mg").alias("__mgv"),
        F.max("__mu").alias("__muv"),
        F.max("__nt").alias("__ntv"),
        F.round(F.sum(term), 8).cast("double").alias("__tsum"),
    )
    share = F.col("n_customers").cast("double") / F.col("__ntv").cast("double")
    ratio = F.col("__mgv") / F.col("__muv")
    return g.select(
        "segment", "n_customers",
        F.round("__mgv", 6).alias("mean_revenue"),
        F.round(
            F.col("__tsum") / F.col("n_customers").cast("double"), 6
        ).alias("theil_within"),
        F.round(share * ratio, 6).alias("weight"),
        F.round(share * ratio * F.log(ratio), 6).alias("between_term"),
    ).orderBy("segment")


def raking(
    spark: SparkSession, sf_dir: str, rounds: int = 5
) -> DataFrame:
    """Iterative proportional fitting (raking) of per-user weights to
    uniform margins over two cross-classifying dimensions (Deming &
    Stephan 1940, the survey-reweighting classic — the same IPF loop
    a training-data pipeline runs to rebalance a corpus toward target
    source × quality margins without disturbing the joint structure):
    users are cross-classified by their DOMINANT event type (row) and
    activity quartile (column), all users start at weight 1, and
    `rounds` alternating row/column scalings pull both margins to
    N/|categories|.

    Spark shape: ONE distributed pass builds the per-user profile
    (groupBy user + a per-user dominant-type window over the
    per-(user, type) aggregate); the IPF loop then runs entirely on
    the CELL table (|event types| x 4 rows — bounded by category
    cardinality, not data size) as `rounds` x 2 chained
    category-partitioned window scalings, so the iterative part costs
    the same at any SF. Margin sums are decimal-quantized @8 pre-sum
    (order-independent); the scaling chain is the same fixed-order
    float expression the oracle's chained CTEs replay. The two
    global windows (total N, |row categories|) sit over the tiny
    cell aggregate. fixed_rounds_guard bounds the chained plan
    depth.

    Returns (event_type, quartile, n_users, user_weight, cell_total)
    — user_weight is each user's raked weight, cell_total = n *
    user_weight the raked cell mass; row sums of cell_total equal
    N/|types| and column sums N/4 up to IPF convergence."""
    from fossil_spark.operators import fixed_rounds_guard

    fixed_rounds_guard("raking", rounds)
    ev = read_table(spark, sf_dir, "events")
    per_ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    # dominant type AND per-user total from ONE window pass over the
    # per-(user, type) aggregate — a join of two derivations of the
    # same subtree would self-join-dedup into two re-aliased scans
    # (caught by the live-scan probe); the two windows share the
    # user_id partitioning, so this is one scan + one shuffle
    wdom = ordered("user_id", F.col("__c").desc_nulls_last(), "event_type")
    wtot = ordered("user_id")
    u0 = per_ut.select(
        "user_id",
        "event_type",
        F.row_number().over(wdom).alias("__rn"),
        F.sum("__c").over(wtot).cast("long").alias("__n_ev"),
    ).filter(F.col("__rn") == 1)
    wq = ordered([], "__n_ev", "user_id")
    u = u0.select(
        F.col("event_type").alias("__dom"),
        F.ntile(4).over(wq).alias("quartile"),
    )
    cells = u.groupBy(
        F.col("__dom").alias("event_type"), "quartile"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))

    wall = ordered([])
    n_total = F.sum("n_users").over(wall).cast("double")
    n_rowcats = F.size(F.collect_set("event_type").over(wall)).cast(
        "double"
    )
    c = cells.select(
        "event_type", "quartile", "n_users",
        F.lit(1.0).alias("__w"),
        (n_total / n_rowcats).alias("__t_row"),
        (n_total / F.lit(4.0)).alias("__t_col"),
    )
    mass = lambda: F.round(
        F.col("n_users").cast("double") * F.col("__w"), 8
    ).cast("decimal(30,8)")
    for _ in range(rounds):
        cur_row = (
            F.sum(mass()).over(ordered("event_type"))
            .cast("double")
        )
        c = c.withColumn(
            "__w", F.col("__w") * (F.col("__t_row") / cur_row)
        )
        cur_col = (
            F.sum(mass()).over(ordered("quartile"))
            .cast("double")
        )
        c = c.withColumn(
            "__w", F.col("__w") * (F.col("__t_col") / cur_col)
        )
    return c.select(
        "event_type", "quartile", "n_users",
        F.round("__w", 6).alias("user_weight"),
        F.round(
            F.col("n_users").cast("double") * F.col("__w"), 6
        ).alias("cell_total"),
    ).orderBy("event_type", "quartile")
