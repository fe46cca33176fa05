"""The FQL fold (fql/compiler.py `_reduce_fallback`) against compile_expr:
a reduce that matches no associative aggregate folds through the
compiler's own Columns, so a two-row fold gives compile_expr's value for
the one row (a, b), on string, numeric and null inputs."""

import contextlib
import io
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from fossil_spark.fql import fql
from fossil_spark.fql.compiler import CompileError, _fields, compile_expr
from fossil_spark.fql.parser import parse
from fossil_spark.store import FIXED_NOW

FOLDS = ["a - b", "a / b", "-a", "a - 1", "a + 1", 'a + "x"', "pow((a, b))"]
# a bool output cannot feed back as its own left operand
COMPARISONS = ["a > b", "a <= b", "a == b", "a != b", "a > 5", "a < 5"]
# compiled to Spark aggregates, never to the fold
ASSOCIATIVE = ["a + b", "a * b", "max((a, b))", "min((a, b))"]
EXPRS = FOLDS + COMPARISONS + ASSOCIATIVE

INPUTS = {
    "str": ("a string, b string", ("10", "3")),
    "str_garbage": ("a string, b string", ("abc", "3")),
    "str_num": ("a string, b bigint", ("10", 3)),
    "long": ("a bigint, b bigint", (10, 3)),
    "double": ("a double, b double", (2.5, 4.0)),
    "null_str": ("a string, b string", (None, "3")),
    "null_long": ("a bigint, b bigint", (7, None)),
}


def _stream(spark, values, dtype):
    """A /t stream of `values` one second apart, in order."""
    return spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0, i), "/t", v) for i, v in enumerate(values)],
        f"time timestamp, topic string, value {dtype}",
    )


def _reduce(df, body):
    return fql(df, f"all | reduce a, b -> {body}", now=FIXED_NOW)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("inputs", sorted(INPUTS))
@pytest.mark.parametrize("text", EXPRS)
def test_interp_matches_compiler(spark, text, inputs):
    schema, row = INPUTS[inputs]
    # one value column: a string and a number fold as two strings, the
    # accumulator-vs-row mix every longer string fold meets
    dtype = schema.split(", ")[0].split()[1]
    values = [None if v is None else str(v) if dtype == "string" else v for v in row]
    stream = _stream(spark, values, dtype)
    if text in COMPARISONS:
        with pytest.raises(CompileError, match="cannot feed back"):
            _reduce(stream, text)
        return
    out = _reduce(stream, text)
    if text in ASSOCIATIVE:
        assert "collect_list" not in _plan(out)
        return
    expr = parse(f"all | map a, b -> {text}").pipeline[0].expr
    df = spark.createDataFrame([row], schema)
    env = {"a": _fields(df, ["a"]), "b": _fields(df, ["b"])}
    compiled = df.select(compile_expr(expr, env).alias("v")).collect()[0]["v"]
    assert out.collect()[0]["value"] == compiled


@pytest.mark.parametrize("values, body, want", [
    (["10", "3", "2"], "a - b", 5.0),
    (["10", "3", "2"], "pow((a, b))", 1e6),
    (["10", "x", "3"], "a - b", None),  # a null accumulator stays null
])
def test_sequential_fold_over_string_values(spark, values, body, want):
    # the store's default value type is string: the fold coerces like map
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0, i), "/m", v) for i, v in enumerate(values)],
        "time timestamp, topic string, value string",
    )
    got = fql(df, f"all in /m | reduce a, b -> {body}", now=FIXED_NOW)
    assert got.schema.simpleString() == "struct<value:double>"
    assert got.collect()[0]["value"] == want


def test_fold_order_null_time_and_ties(spark):
    # a null time folds first, as orderBy puts it
    df = spark.createDataFrame(
        [(datetime(2024, 1, 2), "/t", 100.0), (None, "/t", 1.0),
         (datetime(2024, 1, 1), "/t", 10.0)],
        "time timestamp, topic string, value double",
    )
    assert _reduce(df, "a - b").collect()[0]["value"] == 1.0 - 10.0 - 100.0
    # rows that tie on (time, topic) fold in value order
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1), "/t", 5.0), (datetime(2024, 1, 2), "/t", 1.0),
         (datetime(2024, 1, 1), "/t", 2.0)],
        "time timestamp, topic string, value double",
    )
    assert _reduce(df, "a - b").collect()[0]["value"] == 2.0 - 5.0 - 1.0


def test_fold_small_inputs(spark):
    empty = _reduce(_stream(spark, [], "string"), "a - b")
    assert empty.schema.simpleString() == "struct<value:double>"
    assert empty.collect() == []
    # a lone row is its value at the output type; garbage reads as null
    assert _reduce(_stream(spark, ["abc"], "string"), "a - b").collect()[0]["value"] is None
    assert _reduce(_stream(spark, ["10"], "string"), "a - b").collect()[0]["value"] == 10.0


def test_tuple_fold_arity_differs_from_value(spark):
    df = _stream(spark, [1.0, 2.0, 3.0, 4.0, 5.0], "double")
    # two value fields, one output: `a` is the one-field accumulator
    out = fql(df, "all | map x -> x, 10 * x | reduce a, b -> a[0] - b[1]",
              now=FIXED_NOW)
    assert out.collect()[0]["value"] == 1.0 - 20 - 30 - 40 - 50
    # one value field, two outputs: `a` is the two-field accumulator
    row = _reduce(df, "a[0] - b[0], a[0] + b[0]").collect()[0]
    assert (row["v0"], row["v1"]) == (-13.0, -3.0)
    # a lone row fills the outputs its value has, null for the rest
    row = _reduce(df.limit(1), "a[0] - b[0], a[0] + b[0]").collect()[0]
    assert (row["v0"], row["v1"]) == (1.0, None)


def test_reduce_after_reduce(spark):
    df = _stream(spark, [1.0, 2.0, 3.0], "double")
    got = fql(df, "all | reduce a, b -> a - b | reduce a, b -> a - b", now=FIXED_NOW)
    assert got.collect()[0]["value"] == -4.0
    got = fql(df, "all | reduce a, b -> a + b | reduce a, b -> a / b", now=FIXED_NOW)
    assert got.collect()[0]["value"] == 6.0


def test_fold_plan_stays_in_the_jvm(spark):
    df = spark.range(200).select(
        F.timestamp_seconds("id").alias("time"), F.lit("/t").alias("topic"),
        F.col("id").cast("double").alias("value"),
    )
    out = _reduce(df, "a - b / 2")
    plan = _plan(out)
    for node in ("ExistingRDD", "PythonRDD", "BatchEvalPython", "InPandas"):
        assert node not in plan, node
    assert out.collect()[0]["value"] == -sum(range(1, 200)) / 2
