"""Compile FQL ASTs to Spark DataFrame plans, with one expression
engine: compile_expr turns every stage body into Spark Columns, and no
FQL is evaluated outside the plan.

The execution model is deliberately NOT the reference's streaming
channel pipeline (pkg/query/plan/pipeline.go). Every stage becomes a
declarative DataFrame transformation:

- topic / time predicates  -> Column filters (Catalyst pushes them to
  the parquet scan: PushedFilters + partition pruning at scale)
- filter stage             -> df.filter(compiled predicate)
- map stage                -> df.select(compiled projections)
- reduce stage             -> df.agg(...) when the expression matches
  an associative aggregate shape (sum / min / max / product); this is
  what keeps reduce map-side-combining and shuffle-light at 100 TB.
  Any other reduce is the left fold in stream order: Spark's
  `aggregate` over compile_expr's Columns, on the input collected as
  one sorted array in one task (_reduce_fallback).
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
from pyspark.sql.types import DataType

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


def _kind_of_dtype(dtype: DataType) -> str:
    d = dtype.simpleString()
    if d.startswith(_NUM_DTYPES):
        return "num"
    if d == "string":
        return "str"
    if d == "boolean":
        return "bool"
    return "other"


def _fields(df: DataFrame, cols: list[str]) -> list[_Typed]:
    """`df`'s columns `cols` as typed Columns, the kinds read from the
    schema."""
    return [
        _Typed(F.col(c), _kind_of_dtype(df.schema[c].dataType))
        for c in cols
    ]


def compile_expr(e: ast.Expr, env: dict[str, list[_Typed]]) -> Column:
    return _compile_typed(e, env).col


def _compile_typed(e: ast.Expr, env: dict[str, list[_Typed]]) -> _Typed:
    """env maps identifier -> its typed Columns (len 1 = scalar
    binding, len>1 = tuple binding usable only via subscript); the
    kinds drive the coercion decisions."""
    if isinstance(e, ast.Num):
        return _Typed(F.lit(e.value), "num")
    if isinstance(e, ast.Str):
        return _Typed(F.lit(e.value), "str")
    if isinstance(e, ast.Ident):
        fields = env.get(e.name)
        if fields is None:
            raise CompileError(f"unbound identifier {e.name!r}")
        if len(fields) != 1:
            raise CompileError(f"{e.name!r} is a tuple; subscript it ({e.name}[i])")
        return fields[0]
    if isinstance(e, ast.Subscript):
        fields = env.get(e.base.name)
        if fields is None:
            raise CompileError(f"unbound identifier {e.base.name!r}")
        if isinstance(e.key, int):
            if e.key >= len(fields):
                raise CompileError(f"tuple index {e.key} out of range for {e.base.name!r}")
            return fields[e.key]
        # string subscript: composite field access on a struct column
        if len(fields) != 1:
            raise CompileError("string subscript requires a composite value")
        return _Typed(fields[0].col.getField(e.key), "other")
    if isinstance(e, ast.Unary):
        t = _compile_typed(e.operand, env)
        return _Typed(-t.as_num() if e.op == "-" else t.as_num(), "num")
    if isinstance(e, ast.Binary):
        left = _compile_typed(e.left, env)
        right = _compile_typed(e.right, env)
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
        return _Typed(_compile_builtin(e, env), "num")
    if isinstance(e, ast.Tuple):
        return _Typed(
            F.struct(*[
                _compile_typed(x, env).col.alias(f"_{i}")
                for i, x in enumerate(e.elements)
            ]),
            "other",
        )
    raise CompileError(f"cannot compile {type(e).__name__} here")


def _compile_builtin(e: ast.Call, env: dict[str, list[_Typed]]) -> Column:
    """Builtins per the reference's types/builtin.go (max, min over a
    tuple/array input) plus len() from docs/pipelines.md."""
    name = e.name
    if name in ("max", "min"):
        if isinstance(e.arg, ast.Tuple):
            cols = [_compile_typed(x, env).as_num() for x in e.arg.elements]
            return F.greatest(*cols) if name == "max" else F.least(*cols)
        arg = _compile_typed(e.arg, env).col
        return F.array_max(arg) if name == "max" else F.array_min(arg)
    if name == "len":
        arg = _compile_typed(e.arg, env).col
        return F.length(arg)
    if name == "pow" and isinstance(e.arg, ast.Tuple) and len(e.arg.elements) == 2:
        base, exp = (_compile_typed(x, env).as_num() for x in e.arg.elements)
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


def _bind(args: list[str], plan: _Plan) -> dict[str, list[_Typed]]:
    fields = _fields(plan.df, plan.value_cols)
    if len(args) == len(fields):
        return {name: [f] for name, f in zip(args, fields)}
    if len(args) == 1:
        return {args[0]: fields}
    raise CompileError(
        f"stage takes {len(args)} args but value has {len(fields)} element(s)"
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


def _apply_stage(plan: _Plan, stage: ast.Stage, time_col: str, topic_col: str,
                 group: list[Column] | None = None) -> _Plan:
    """One pipeline stage. A reduce aggregates globally, or per `group`
    key when given (the streaming twin's event-time window); grouped,
    only the associative shapes compile, since the sequential fold
    needs the whole input in order."""
    if stage.kind == "filter":
        pred = compile_expr(stage.expr, _bind(stage.args, plan))
        return _Plan(plan.df.filter(pred), plan.value_cols, plan.display, plan.scalar)

    if stage.kind == "map":
        env = _bind(stage.args, plan)
        exprs, display = _stage_outputs(stage.expr)
        cols = [compile_expr(e, env).alias(f"__v{i}") for i, e in enumerate(exprs)]
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
    """A reduce that matches no associative aggregate: the left fold in
    stream order (time, topic), exactly the reference's pipeline
    semantics (plan/reduce.go folds the channel in arrival order), built
    from compile_expr's own Columns, so it follows the same rules as
    every other stage:

    - the input collects into one sorted array of (time, topic,
      value...) structs: rows fold in (time, topic) order, a null time
      first as orderBy puts it, and rows that tie fold in value order;
    - the first two rows combine at the value kinds, and their result
      types are the output's: the accumulator carries them from then on;
    - `aggregate` folds the rest, `a` bound to the accumulator at the
      output kinds and `b` to the next row at the value kinds, each
      field cast back to its output type;
    - a lone row is its value try_cast to the output type; no row in,
      no row out.

    The output must feed back as its own left operand: each output
    field keeps its value's kind (a string may fold to a number, which
    it reads as), else CompileError at compile time; so a comparison
    (`a > b`) does not fold. The whole input is held as one array in
    one task: no partial aggregation, and that task's memory bounds the
    input. Associative forms compile to real aggregates instead."""
    import logging

    from pyspark.errors import AnalysisException

    logging.getLogger("fossil_spark").warning(
        "FQL reduce is not expressible as a Spark aggregate; falling "
        "back to a sequential single-partition fold — the whole input "
        "is held as one array in ONE task, no partial aggregation. At "
        "large scale rewrite the reduce as an associative expression."
    )
    a, b = stage.args
    fields = _fields(plan.df, plan.value_cols)
    names = [f"v{i}" for i in range(len(fields))]
    outs = [f"__v{i}" for i in range(len(exprs))]
    order = [] if plan.scalar else [F.col(time_col), F.col(topic_col)]
    rows = plan.df.agg(F.array_sort(F.collect_list(F.struct(
        *order, *[f.col.alias(v) for f, v in zip(fields, names)]
    ))).alias("rows"))
    r, n = F.col("rows"), F.size("rows")

    def row(x: Column) -> list[_Typed]:
        return [_Typed(x[v], f.kind) for f, v in zip(fields, names)]

    def step(acc: list[_Typed], x: Column) -> list[Column]:
        return [_compile_typed(e, {a: acc, b: row(x)}).col for e in exprs]

    first = step(row(r[0]), r[1])
    types = [f.dataType for f in rows.select(*first).schema.fields]
    kinds = [_kind_of_dtype(t) for t in types]
    for i, (vk, ok) in enumerate(zip([f.kind for f in fields], kinds)):
        if ok != vk and (vk, ok) != ("str", "num"):
            raise CompileError(
                f"reduce output {i} is {ok} but its value is {vk}: it "
                f"cannot feed back as {a!r}"
            )

    def acc(cols: list[Column]) -> Column:
        return F.struct(*[c.cast(t).alias(o) for c, t, o in zip(cols, types, outs)])

    def merge(state: Column, x: Column) -> Column:
        return acc(step([_Typed(state[o], k) for o, k in zip(outs, kinds)], x))

    lone = F.struct(*[
        (r[0][names[i]] if i < len(names) else F.lit(None)).try_cast(t).alias(o)
        for i, (t, o) in enumerate(zip(types, outs))
    ])
    folded = F.when(n == 1, lone).otherwise(
        F.aggregate(F.slice(r, 3, n - 2), acc(first), merge)
    )
    try:
        out = rows.filter(n > 0).select(folded.alias("acc")).select(
            *[F.col("acc")[o].alias(o) for o in outs]
        )
    except AnalysisException as ex:
        raise CompileError(f"reduce output cannot feed back as {a!r}: {ex}") from ex
    return _Plan(out, outs, display, scalar=True)


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
