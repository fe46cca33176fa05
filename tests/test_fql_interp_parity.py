"""The FQL sequential-fold interpreter (fql/interp.py) against the
compiler (fql/compiler.py compile_expr): every expression must give the
same value through both engines, on string, numeric and null inputs."""

import math
from datetime import datetime

import pytest

from fossil_spark.fql import fql
from fossil_spark.fql.compiler import _kinds_of, compile_expr
from fossil_spark.fql.interp import eval_expr
from fossil_spark.fql.parser import parse
from fossil_spark.store import FIXED_NOW

EXPRS = [
    "a - b", "a + b", "a * b", "a / b", "-a", "a - 1", "a + 1",
    "a > b", "a <= b", "a == b", "a != b", "a > 5", "a < 5",
    'a + "x"', "pow((a, b))", "max((a, b))", "min((a, b))",
]

INPUTS = {
    "str": ("a string, b string", ("10", "3")),
    "str_garbage": ("a string, b string", ("abc", "3")),
    "str_num": ("a string, b bigint", ("10", 3)),
    "long": ("a bigint, b bigint", (10, 3)),
    "double": ("a double, b double", (2.5, 4.0)),
    "null_str": ("a string, b string", (None, "3")),
    "null_long": ("a bigint, b bigint", (7, None)),
}


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x):
        return math.isnan(y)
    return x == y and (x is None) == (y is None)


@pytest.mark.parametrize("inputs", sorted(INPUTS))
@pytest.mark.parametrize("text", EXPRS)
def test_interp_matches_compiler(spark, text, inputs):
    schema, row = INPUTS[inputs]
    expr = parse(f"all | map a, b -> {text}").pipeline[0].expr
    df = spark.createDataFrame([row], schema)
    kinds = _kinds_of(df, ["a", "b"])
    compiled = df.select(
        compile_expr(expr, {"a": ["a"], "b": ["b"]}, kinds).alias("v")
    ).collect()[0]["v"]
    interpreted = eval_expr(expr, {"a": row[0], "b": row[1]})
    assert _same(compiled, interpreted), (compiled, interpreted)


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
