"""FQL over Structured Streams — beyond the reference's surface
(fossil queries only historical data; its ingest path is write-only).
Here the same query text runs continuously, through the batch
compiler's own stage code (fql/compiler.py `_apply_stage`):

- topic predicates and filter/map stages apply row-wise, exactly as
  in the batch path;
- a trailing reduce becomes a watermarked tumbling-window aggregate:
  `all in /x | map v -> 1, v | reduce a,b -> a[0]+b[0], a[1]+b[1]`
  emits per-window partial results instead of one scalar — the only
  meaningful reading of a global fold over an unbounded stream. Only
  the associative reduce shapes compile; the batch path's sequential
  fold needs the whole input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fossil_spark.fql.compiler import CompileError, _apply_stage, _Plan
from fossil_spark.fql.parser import parse


def fql_stream(
    stream: DataFrame,
    query: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "time",
    topic_col: str = "topic",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Compile an FQL query against a streaming store-contract
    DataFrame. Returns a streaming DataFrame; a trailing reduce is
    windowed by `window` with `watermark` late-data tolerance and
    returns (bucket, values)."""
    q = parse(query)
    value_cols = value_cols or ["value"]

    if q.quantifier.kind != "all":
        raise CompileError("streaming FQL supports the 'all' quantifier only")
    if q.time_predicate is not None:
        raise CompileError(
            "time predicates select history; a stream is future-only "
            "(use the batch path for historical ranges)"
        )
    if any(s.kind == "reduce" for s in q.pipeline[:-1]):
        raise CompileError("streaming reduce must be the final stage")

    df = stream
    if q.topic:
        df = df.filter(F.col(topic_col).startswith(q.topic))
    if q.pipeline and q.pipeline[-1].kind == "reduce":
        df = df.withWatermark(time_col, watermark)

    plan = _Plan(df, list(value_cols))
    # group by the window() struct (not .start) so the event-time /
    # watermark linkage survives and append-mode sinks work; .start is
    # projected after the aggregate
    group = [F.window(F.col(time_col), window)]
    for stage in q.pipeline:
        plan = _apply_stage(plan, stage, time_col, topic_col, group)

    if plan.scalar:
        return plan.select(F.col("window").start.alias("bucket"))
    return plan.select(F.col(time_col), F.col(topic_col))
