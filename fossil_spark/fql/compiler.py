"""Compile FQL ASTs to Spark DataFrame plans.

The execution model is deliberately NOT the reference's streaming
channel pipeline (/root/reference/pkg/query/plan/pipeline.go). Every
stage becomes a declarative DataFrame transformation:

- topic / time predicates  -> Column filters (Catalyst pushes them to
  the parquet scan: PushedFilters + partition pruning at scale)
- filter stage             -> df.filter(compiled predicate)
- map stage                -> df.select(compiled projections)
- reduce stage             -> df.agg(...) when the expression matches
  an associative aggregate shape (sum / min / max / product); this is
  what keeps reduce map-side-combining and shuffle-light at 100 TB.
- sample(Δ)               -> first row per epoch-aligned Δ bucket
  (fully distributed decimation: one window per bucket, no global
  sequential scan). The reference's greedy semantics
  (plan/metadata.go:46: keep a row, skip until t+Δ) are inherently
  sequential; operators.timeseries.greedy_sample provides an exact
  variant via applyInPandas for when bit-parity with the reference
  matters more than scale.

Documented divergence: the reference's filter chain runs in AST order
— quantifier FIRST, then topic, then time (plan/metadata.go:21 Visit
appends in that order), so `sample(Δ) in /x since T` samples the whole
stream before selecting the topic/time slice. We apply topic/time
BEFORE sampling: that is what the query reads as, and it lets the
predicates push into the scan instead of forcing a full-stream
decimation. Users selecting a topic want that topic sampled, not a
lottery over unrelated topics.

Store contract: the input DataFrame has columns
  time  timestamp
  topic string        (hierarchical, '/a/b/c')
  value any type      (the datum; struct for composites)
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fossil_spark.fql import ast
from fossil_spark.fql.parser import parse


class CompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# expression compilation
# ---------------------------------------------------------------------------

_CMP = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}

# minimal static kinds, mirroring the reference's type analysis
# (pkg/query/analysis/types.go): num / str / bool / other
_NUM_DTYPES = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")


class _Typed:
    """A compiled Column plus its static kind."""

    def __init__(self, col: Column, kind: str):
        self.col, self.kind = col, kind

    def as_num(self) -> Column:
        """Numeric view: string values coerce via try_cast (the
        reference would reject string arithmetic at type-check time;
        we are deliberately more permissive because the default topic
        schema is string — docs/schema.md — and numeric pipelines over
        string topics are the common CLI case. Garbage becomes null,
        never a runtime crash)."""
        if self.kind == "str":
            return self.col.try_cast("double")
        return self.col


def _kind_of_dtype(dtype: str) -> str:
    d = dtype.lower()
    if d.startswith(_NUM_DTYPES):
        return "num"
    if d == "string":
        return "str"
    if d == "boolean":
        return "bool"
    return "other"


def compile_expr(e: ast.Expr, env: dict[str, list[str]],
                 kinds: dict[str, str] | None = None) -> Column:
    return _compile_typed(e, env, kinds or {}).col


def _compile_typed(e: ast.Expr, env: dict[str, list[str]],
                   kinds: dict[str, str]) -> _Typed:
    """env maps identifier -> list of df column names (len 1 = scalar
    binding, len>1 = tuple binding usable only via subscript); kinds
    maps column name -> static kind for coercion decisions."""
    if isinstance(e, ast.Num):
        return _Typed(F.lit(e.value), "num")
    if isinstance(e, ast.Str):
        return _Typed(F.lit(e.value), "str")
    if isinstance(e, ast.Ident):
        cols = env.get(e.name)
        if cols is None:
            raise CompileError(f"unbound identifier {e.name!r}")
        if len(cols) != 1:
            raise CompileError(f"{e.name!r} is a tuple; subscript it ({e.name}[i])")
        return _Typed(F.col(cols[0]), kinds.get(cols[0], "other"))
    if isinstance(e, ast.Subscript):
        cols = env.get(e.base.name)
        if cols is None:
            raise CompileError(f"unbound identifier {e.base.name!r}")
        if isinstance(e.key, int):
            if e.key >= len(cols):
                raise CompileError(f"tuple index {e.key} out of range for {e.base.name!r}")
            return _Typed(F.col(cols[e.key]), kinds.get(cols[e.key], "other"))
        # string subscript: composite field access on a struct column
        if len(cols) != 1:
            raise CompileError("string subscript requires a composite value")
        return _Typed(F.col(cols[0]).getField(e.key), "other")
    if isinstance(e, ast.Unary):
        t = _compile_typed(e.operand, env, kinds)
        return _Typed(-t.as_num() if e.op == "-" else t.as_num(), "num")
    if isinstance(e, ast.Binary):
        left = _compile_typed(e.left, env, kinds)
        right = _compile_typed(e.right, env, kinds)
        if e.op in _CMP:
            # mixed str/num comparison coerces the string side
            if {left.kind, right.kind} == {"str", "num"}:
                return _Typed(_CMP[e.op](left.as_num(), right.as_num()), "bool")
            return _Typed(_CMP[e.op](left.col, right.col), "bool")
        if e.op == "+":
            if left.kind == "str" and right.kind == "str":
                # string + string concatenates (types/value.go upcast)
                return _Typed(F.concat(left.col, right.col), "str")
            return _Typed(left.as_num() + right.as_num(), "num")
        if e.op == "-":
            return _Typed(left.as_num() - right.as_num(), "num")
        if e.op == "*":
            return _Typed(left.as_num() * right.as_num(), "num")
        if e.op == "/":
            # reference semantics: int/int -> float (types/value.go:426)
            return _Typed(
                left.as_num().cast("double") / right.as_num().cast("double"), "num"
            )
        raise CompileError(f"unknown operator {e.op!r}")
    if isinstance(e, ast.Call):
        return _Typed(_compile_builtin(e, env, kinds), "num")
    if isinstance(e, ast.Tuple):
        return _Typed(
            F.struct(*[
                _compile_typed(x, env, kinds).col.alias(f"_{i}")
                for i, x in enumerate(e.elements)
            ]),
            "other",
        )
    raise CompileError(f"cannot compile {type(e).__name__} here")


def _compile_builtin(e: ast.Call, env: dict[str, list[str]],
                     kinds: dict[str, str]) -> Column:
    """Builtins per the reference's types/builtin.go (max, min over a
    tuple/array input) plus len() from docs/pipelines.md."""
    name = e.name
    if name in ("max", "min"):
        if isinstance(e.arg, ast.Tuple):
            cols = [_compile_typed(x, env, kinds).as_num() for x in e.arg.elements]
            return F.greatest(*cols) if name == "max" else F.least(*cols)
        arg = _compile_typed(e.arg, env, kinds).col
        return F.array_max(arg) if name == "max" else F.array_min(arg)
    if name == "len":
        arg = _compile_typed(e.arg, env, kinds).col
        return F.length(arg)
    if name == "pow" and isinstance(e.arg, ast.Tuple) and len(e.arg.elements) == 2:
        base, exp = (_compile_typed(x, env, kinds).as_num() for x in e.arg.elements)
        return F.pow(base, exp)
    raise CompileError(f"unknown builtin {name!r}")


# ---------------------------------------------------------------------------
# reduce pattern matching -> Spark aggregates
# ---------------------------------------------------------------------------

class _Ref:
    def __init__(self, side: str, idx: int | None):
        self.side, self.idx = side, idx


def _as_ref(e: ast.Expr, a: str, b: str) -> _Ref | None:
    if isinstance(e, ast.Ident) and e.name in (a, b):
        return _Ref("a" if e.name == a else "b", None)
    if isinstance(e, ast.Subscript) and e.base.name in (a, b) and isinstance(e.key, int):
        return _Ref("a" if e.base.name == a else "b", e.key)
    return None


def _match_reduce_element(e: ast.Expr, a: str, b: str) -> tuple[str, int | None] | None:
    """Recognize associative folds: a+b -> sum, a*b -> product,
    max((a,b)) -> max, min((a,b)) -> min (element-wise on tuples)."""
    if isinstance(e, ast.Binary) and e.op in ("+", "*"):
        l, r = _as_ref(e.left, a, b), _as_ref(e.right, a, b)
        if l and r and l.side != r.side and l.idx == r.idx:
            return ("sum" if e.op == "+" else "product", l.idx)
    if isinstance(e, ast.Call) and e.name in ("max", "min") and isinstance(e.arg, ast.Tuple) \
            and len(e.arg.elements) == 2:
        l = _as_ref(e.arg.elements[0], a, b)
        r = _as_ref(e.arg.elements[1], a, b)
        if l and r and l.side != r.side and l.idx == r.idx:
            return (e.name, l.idx)
    return None


_AGG = {"sum": F.sum, "product": F.product, "max": F.max, "min": F.min}


def _make_agg(agg_name: str, col_name: str, df: DataFrame) -> Column:
    """Aggregate with run-to-run reproducibility: double addition is not
    associative, so a distributed partial sum gives a (slightly)
    different answer depending on partitioning. Accumulate floats in
    decimal(30,8) fixed point — exact and order-independent — then
    return a double. Ints sum natively (exact anyway)."""
    from pyspark.sql.types import DoubleType, FloatType

    c = F.col(col_name)
    if agg_name == "sum" and isinstance(df.schema[col_name].dataType, (DoubleType, FloatType)):
        return F.round(F.sum(c.cast("decimal(30,8)")), 4).cast("double")
    return _AGG[agg_name](c)


# ---------------------------------------------------------------------------
# query compilation
# ---------------------------------------------------------------------------

class _Plan:
    """Tracks the evolving DataFrame plus which columns hold the datum
    value(s) and what to call them in the final output."""

    def __init__(self, df: DataFrame, value_cols: list[str],
                 display: list[str] | None = None, scalar: bool = False):
        self.df = df
        self.value_cols = value_cols
        if display is None:  # the input datum: 'value', or its columns
            display = ["value"] if len(value_cols) == 1 else list(value_cols)
        self.display = display
        self.scalar = scalar  # True after reduce: no time/topic columns

    def select(self, *keys: Column) -> DataFrame:
        """The plan's output: `keys`, then the value columns under their
        display names."""
        return self.df.select(*keys, *[
            F.col(c).alias(d) for c, d in zip(self.value_cols, self.display)
        ])


def _bind(args: list[str], value_cols: list[str]) -> dict[str, list[str]]:
    if len(args) == len(value_cols):
        return {name: [col] for name, col in zip(args, value_cols)}
    if len(args) == 1:
        return {args[0]: list(value_cols)}
    raise CompileError(
        f"stage takes {len(args)} args but value has {len(value_cols)} element(s)"
    )


def _stage_outputs(expr: ast.Expr) -> tuple[list[ast.Expr], list[str]]:
    """Split a stage body into element expressions + display names."""
    if isinstance(expr, ast.Tuple):
        return expr.elements, [f"v{i}" for i in range(len(expr.elements))]
    if isinstance(expr, ast.Composite):
        return [e for _, e in expr.entries], [k for k, _ in expr.entries]
    return [expr], ["value"]


def time_bounds(
    q: ast.Query | str, now: datetime | None = None
) -> tuple[datetime | None, datetime | None]:
    """Resolved inclusive [lo, hi] wall-clock bounds of a query's time
    predicate, or (None, None) when unbounded. Spark cannot infer
    `date = to_date(time)` from a `time` filter, so callers that own a
    date-partitioned layout (EventStore._read_pruned) use these bounds
    to pick the date directories to read and to add a redundant `date`
    predicate (PartitionFilters in the plan)."""
    if isinstance(q, str):
        q = parse(q)
    now = now or datetime.now(timezone.utc)
    tp = q.time_predicate
    if tp is None:
        return (None, None)
    if tp.kind == "since":
        return (tp.begin.resolve(now), now)
    if tp.kind == "before":
        return (None, tp.begin.resolve(now))
    return (tp.begin.resolve(now), tp.end.resolve(now))


def compile_query(
    q: ast.Query,
    df: DataFrame,
    now: datetime | None = None,
    time_col: str = "time",
    topic_col: str = "topic",
    value_cols: list[str] | None = None,
) -> DataFrame:
    now = now or datetime.now(timezone.utc)
    value_cols = value_cols or ["value"]

    # Tolerate TIMESTAMP_NTZ time columns (driver parquet has shipped
    # both nanos and NTZ layouts): cast to TIMESTAMP — identity on the
    # instant under the engine's UTC session TZ. unix_micros() below
    # and timestamp-vs-literal comparisons reject NTZ otherwise.
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[time_col].dataType, TimestampNTZType):
        df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))

    # --- metadata filters: topic + time, pushed into the scan ------------
    if q.topic:
        df = df.filter(F.col(topic_col).startswith(q.topic))
    if q.time_predicate:
        tp = q.time_predicate
        if tp.kind == "since":
            # reference: since T means [T, now] (plan/metadata.go:108)
            df = df.filter(
                (F.col(time_col) >= F.lit(tp.begin.resolve(now)))
                & (F.col(time_col) <= F.lit(now))
            )
        elif tp.kind == "before":
            df = df.filter(F.col(time_col) <= F.lit(tp.begin.resolve(now)))
        else:  # between: both ends inclusive (db.go:605 "End ... inclusive")
            df = df.filter(
                (F.col(time_col) >= F.lit(tp.begin.resolve(now)))
                & (F.col(time_col) <= F.lit(tp.end.resolve(now)))
            )

    # --- quantifier -------------------------------------------------------
    if q.quantifier.kind == "sample":
        # integer microsecond bucketing: exact, no float boundary issues,
        # and fully distributed (one shuffle keyed by bucket)
        micros = q.quantifier.quantity // __import__("datetime").timedelta(microseconds=1)
        bucket = F.expr(f"unix_micros({time_col}) div {micros}")
        w = Window.partitionBy(bucket).orderBy(F.col(time_col), F.col(topic_col))
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    plan = _Plan(df, list(value_cols))

    # --- data pipeline ------------------------------------------------------
    for stage in q.pipeline:
        plan = _apply_stage(plan, stage, time_col, topic_col)

    # --- final projection ---------------------------------------------------
    return plan.select(*([] if plan.scalar else [F.col(time_col), F.col(topic_col)]))


def _kinds_of(df: DataFrame, cols: list[str]) -> dict[str, str]:
    return {c: _kind_of_dtype(df.schema[c].dataType.simpleString()) for c in cols}


def _apply_stage(plan: _Plan, stage: ast.Stage, time_col: str, topic_col: str,
                 group: list[Column] | None = None) -> _Plan:
    """One pipeline stage. A reduce aggregates globally, or per `group`
    key when given (the streaming twin's event-time window); grouped,
    only the associative shapes compile, since the sequential fold
    needs the whole input in order."""
    if stage.kind == "filter":
        env = _bind(stage.args, plan.value_cols)
        pred = compile_expr(stage.expr, env, _kinds_of(plan.df, plan.value_cols))
        return _Plan(plan.df.filter(pred), plan.value_cols, plan.display, plan.scalar)

    if stage.kind == "map":
        env = _bind(stage.args, plan.value_cols)
        exprs, display = _stage_outputs(stage.expr)
        kinds = _kinds_of(plan.df, plan.value_cols)
        cols = [compile_expr(e, env, kinds).alias(f"__v{i}") for i, e in enumerate(exprs)]
        keep = [] if plan.scalar else [F.col(time_col), F.col(topic_col)]
        df = plan.df.select(*keep, *cols)
        return _Plan(df, [f"__v{i}" for i in range(len(cols))], display, plan.scalar)

    if stage.kind == "reduce":
        if len(stage.args) != 2:
            raise CompileError("reduce takes exactly two arguments")
        a, b = stage.args
        exprs, display = _stage_outputs(stage.expr)
        aggs = []
        for i, e in enumerate(exprs):
            m = _match_reduce_element(e, a, b)
            if m is None:
                if group is not None:
                    raise CompileError(
                        "streaming reduce requires an associative fold (sequential "
                        "fallback cannot run on an unbounded stream)"
                    )
                # not an associative aggregate shape: exact sequential
                # fold (matches the reference's stream semantics)
                return _reduce_fallback(plan, stage, exprs, display, time_col, topic_col)
            agg_name, idx = m
            n_elems = len(plan.value_cols)
            if idx is None and n_elems != 1:
                raise CompileError("whole-tuple reduce on a tuple value needs subscripts")
            src = plan.value_cols[idx if idx is not None else 0]
            aggs.append(_make_agg(agg_name, src, plan.df).alias(f"__v{i}"))
        df = (plan.df.groupBy(*group) if group else plan.df).agg(*aggs)
        return _Plan(df, [f"__v{i}" for i in range(len(aggs))], display, scalar=True)

    raise CompileError(f"unknown stage kind {stage.kind!r}")


def _reduce_fallback(
    plan: _Plan,
    stage: ast.Stage,
    exprs: list[ast.Expr],
    display: list[str],
    time_col: str,
    topic_col: str,
) -> _Plan:
    """Slow-path reduce: a sequential left fold in stream order
    (time, topic) — exactly the reference's pipeline semantics
    (plan/reduce.go folds the channel in arrival order). This is the
    only FQL path that pulls data through Python; it exists for parity
    with non-associative expressions, and its docstring is its warning
    label. Executed via a single sorted partition, not a driver
    collect, so it still streams through an executor."""
    import logging

    from pyspark.sql.types import DoubleType

    from fossil_spark.fql.interp import _num, eval_expr

    logging.getLogger("fossil_spark").warning(
        "FQL reduce is not expressible as a Spark aggregate; falling "
        "back to a sequential single-partition fold — O(n) on ONE "
        "executor core, no partial aggregation. At large scale rewrite "
        "the reduce as an associative expression."
    )
    a, b = stage.args
    n = len(plan.value_cols)
    order = [time_col, topic_col] if not plan.scalar else []
    src = plan.df.select(*order, *plan.value_cols)
    if order:
        src = src.orderBy(*order)

    # the output types are the compiler's for the same expressions (a
    # fold that ends null has no value to infer one from)
    env = {a: plan.value_cols, b: plan.value_cols}
    schema = plan.df.select(*[
        compile_expr(e, env, _kinds_of(plan.df, plan.value_cols)).alias(f"__v{i}")
        for i, e in enumerate(exprs)
    ]).schema

    def converter(t):
        if isinstance(t, DoubleType):  # ints, and a lone row's raw string
            return lambda v: _num(v) if isinstance(v, str) else float(v)
        return lambda v: v

    convs = [converter(f.dataType) for f in schema.fields]
    empty = object()  # no row yet; a null accumulator stays null

    def fold(rows):
        acc = empty
        for row in rows:
            vals = tuple(row[-n:]) if n > 1 else row[-1]
            if acc is empty:
                acc = vals
            else:
                out = tuple(
                    eval_expr(e, {a: acc, b: vals}) for e in exprs
                )
                acc = out if n > 1 or len(exprs) > 1 else out[0]
        if acc is not empty:
            vals = acc if isinstance(acc, tuple) else (acc,)
            yield tuple(None if v is None else c(v) for c, v in zip(convs, vals))

    folded = src.rdd.coalesce(1).mapPartitions(fold)
    out_df = plan.df.sparkSession.createDataFrame(folded, schema)
    return _Plan(out_df, [f"__v{i}" for i in range(len(exprs))], display, scalar=True)


def fql(
    df: DataFrame,
    query: str,
    now: datetime | None = None,
    time_col: str = "time",
    topic_col: str = "topic",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Parse + compile an FQL query against a store-shaped DataFrame."""
    return compile_query(parse(query), df, now, time_col, topic_col, value_cols)
