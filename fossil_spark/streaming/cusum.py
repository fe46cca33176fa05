"""Streaming CUSUM drift monitor against a batch-computed baseline.

The streaming dual of operators.timeseries.cusum_chart, in the same
lambda shape as streaming/anomaly.py: history fixes a per-key
(mean, std) baseline batch-side (exact, auditable); the live stream
folds each arriving value into the one-sided S+/S- sums and alerts
when either crosses the decision limit. CUSUM is the right live drift
detector precisely because it is O(1) state per key — two doubles —
which is also what makes it stream-friendly: the state store holds
(S+, S-, n) per key, nothing grows with volume.

Ordering caveat (documented): values fold in event-time order WITHIN
each micro-batch; cross-batch reordering beyond the source's delivery
order is not corrected (CUSUM's running sums are associative enough
in practice — a swapped adjacent pair perturbs the path, not the
level it converges to; feeds needing exactness replay through the
batch operator, whose oracle is bit-exact).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

from fossil_spark.operators.timeseries import _per_key

CUSUM_SCHEMA = StructType([
    StructField("topic", StringType()),
    StructField("n_seen", LongType()),
    StructField("cusum_pos", DoubleType()),
    StructField("cusum_neg", DoubleType()),
    StructField("alarm", BooleanType()),
])

_STATE_SCHEMA = StructType([
    StructField("sp", DoubleType()),
    StructField("sn", DoubleType()),
    StructField("n", LongType()),
])


def _fold_cusum(zs, sp: float, sn: float, n: int, kk: float):
    """The CUSUM state fold (Page 1954), shared verbatim by the
    streaming state update and the batch replay so the two can never
    drift apart: S+ = max(0, S+ + (z-k)), S- = max(0, S- - (z+k))."""
    for zv in zs:
        sp = max(0.0, sp + (zv - kk))
        sn = max(0.0, sn - (zv + kk))
        n += 1
    return sp, sn, n


def cusum_replay(
    live: DataFrame,
    baseline: DataFrame,
    k_slack: float = 0.5,
    h_limit: float = 5.0,
    time_col: str = "time",
    key_col: str = "topic",
    value_col: str = "value",
    order_tiebreak: list | None = None,
) -> DataFrame:
    """Batch replay of [[streaming_cusum]]: the SAME broadcast
    baseline join, z-standardization, and state fold (literally the
    same _fold_cusum function), draining `live` as one batch in
    (time, *order_tiebreak) order and emitting the final state row
    per key — exactly what the streaming query's state store holds
    after the last micro-batch. This is the twin that gives the
    streaming operator's arithmetic a SQL oracle (the ts_apdex ↔
    streaming-apdex pattern); the recursive-CTE oracle replays the
    fold bit-for-bit. Returns (topic, n_seen, cusum_pos, cusum_neg,
    alarm), one row per key."""
    j = (
        live.join(
            F.broadcast(
                baseline.select(key_col, "base_mean", "base_std")
            ),
            key_col,
        )
        .filter(F.col("base_std") > 0)
        .select(
            F.col(key_col).alias("topic"),
            time_col,
            *(order_tiebreak or []),
            (
                (F.col(value_col) - F.col("base_mean"))
                / F.col("base_std")
            ).alias("__z"),
        )
    )
    kk, hh = float(k_slack), float(h_limit)
    sort_cols = [time_col] + list(order_tiebreak or [])

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        sp, sn, n = _fold_cusum(
            pdf["__z"].to_numpy(dtype=float), 0.0, 0.0, 0, kk
        )
        return pd.DataFrame({
            "topic": [pdf["topic"].iloc[0]],
            "n_seen": [n],
            "cusum_pos": [sp],
            "cusum_neg": [sn],
            "alarm": [(sp > hh) or (sn > hh)],
        })

    return _per_key(j, ["topic"], sort_cols, replay, CUSUM_SCHEMA)


def streaming_cusum(
    stream: DataFrame,
    baseline: DataFrame,
    k_slack: float = 0.5,
    h_limit: float = 5.0,
    time_col: str = "time",
    key_col: str = "topic",
    value_col: str = "value",
) -> DataFrame:
    """Per key, one row per micro-batch: (key, n_seen, cusum_pos,
    cusum_neg, alarm). `baseline` is a static (key, base_mean,
    base_std) DataFrame (streaming/anomaly.baseline_stats) — the
    stream-static join broadcasts it, so the only stream shuffle is
    the keyBy for the state store. Keys missing a baseline or with
    base_std = 0 are dropped (no 'normal' to drift FROM). Use output
    mode `update` (state rows re-emit as they evolve)."""
    j = (
        stream.join(
            F.broadcast(
                baseline.select(key_col, "base_mean", "base_std")
            ),
            key_col,
        )
        .filter(F.col("base_std") > 0)
        .select(
            key_col,
            time_col,
            (
                (F.col(value_col) - F.col("base_mean"))
                / F.col("base_std")
            ).alias("__z"),
        )
    )
    kk, hh = float(k_slack), float(h_limit)

    def update(key, pdfs, state: GroupState):
        (topic,) = key
        sp, sn, n = state.get if state.exists else (0.0, 0.0, 0)
        rows = []
        for pdf in pdfs:
            rows.append(pdf[[time_col, "__z"]])
        batch = pd.concat(rows).sort_values(time_col, kind="mergesort")
        sp, sn, n = _fold_cusum(
            batch["__z"].to_numpy(dtype=float), sp, sn, n, kk
        )
        state.update((sp, sn, n))
        yield pd.DataFrame({
            "topic": [topic],
            "n_seen": [n],
            "cusum_pos": [sp],
            "cusum_neg": [sn],
            "alarm": [(sp > hh) or (sn > hh)],
        })

    return (
        j.groupBy(key_col)
        .applyInPandasWithState(
            update,
            CUSUM_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
