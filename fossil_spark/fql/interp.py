"""Tiny Python interpreter for FQL expressions — the slow-path engine
behind reduce expressions that don't match an associative aggregate
shape (fql/compiler.py compiles those to real Spark aggregations).

Value semantics are compile_expr's, so a fold gives the same answer
whichever engine runs it:
- a string operand of - * / (and of + with a non-string, and of a
  comparison with a number) reads as a double, or null if it does not
  parse (the compiler's try_cast);
- string + string concatenates; string vs string compares as text;
- int op int stays int except '/', which yields float (value.go:426);
- a null operand gives null; max/min over a tuple skip nulls;
- the builtins are the compiler's: max, min, len, pow.
"""

from __future__ import annotations

import operator

from fossil_spark.fql import ast


class EvalError(ValueError):
    pass


_CMP = {
    ">": operator.gt, ">=": operator.ge, "<": operator.lt,
    "<=": operator.le, "==": operator.eq, "!=": operator.ne,
}
_ARITH = {
    "+": operator.add, "-": operator.sub, "*": operator.mul,
    "/": lambda l, r: float(l) / float(r),
}


def _num(v: object) -> object:
    """The numeric view of a value: strings parse as doubles (None when
    they do not), everything else passes through."""
    if not isinstance(v, str):
        return v
    try:
        return None if "_" in v else float(v)
    except ValueError:
        return None


def _pow(base: object, exp: object) -> object:
    import numpy as np

    if base is None or exp is None:
        return None
    with np.errstate(all="ignore"):  # IEEE results, as Spark's pow
        return float(np.power(float(base), float(exp)))


def eval_expr(e: ast.Expr, env: dict[str, object]) -> object:
    if isinstance(e, (ast.Num, ast.Str)):
        return e.value
    if isinstance(e, ast.Ident):
        if e.name not in env:
            raise EvalError(f"unbound identifier {e.name!r}")
        return env[e.name]
    if isinstance(e, ast.Subscript):
        base = env.get(e.base.name)
        if base is None:
            raise EvalError(f"unbound identifier {e.base.name!r}")
        return base[e.key]  # tuple index or composite field
    if isinstance(e, ast.Unary):
        v = _num(eval_expr(e.operand, env))
        return None if v is None else (-v if e.op == "-" else v)
    if isinstance(e, ast.Binary):
        l, r = eval_expr(e.left, env), eval_expr(e.right, env)
        fn = _CMP.get(e.op) or _ARITH.get(e.op)
        if fn is None:
            raise EvalError(f"unknown operator {e.op!r}")
        if e.op in _CMP:  # only a string compared with a number coerces
            coerce = isinstance(l, str) != isinstance(r, str)
        else:  # arithmetic coerces, except string + string (concat)
            coerce = not (e.op == "+" and isinstance(l, str) and isinstance(r, str))
        if coerce:
            l, r = _num(l), _num(r)
        return None if l is None or r is None else fn(l, r)
    if isinstance(e, ast.Call):
        if isinstance(e.arg, ast.Tuple):
            arg = tuple(_num(eval_expr(x, env)) for x in e.arg.elements)
        else:
            arg = eval_expr(e.arg, env)
        if e.name in ("max", "min"):
            vals = [v for v in arg or () if v is not None]
            if not vals:
                return None
            return max(vals) if e.name == "max" else min(vals)
        if e.name == "len":
            return None if arg is None else len(arg)
        if e.name == "pow" and isinstance(e.arg, ast.Tuple) and len(arg) == 2:
            return _pow(*arg)
        raise EvalError(f"unknown builtin {e.name!r}")
    if isinstance(e, ast.Tuple):
        return tuple(eval_expr(x, env) for x in e.elements)
    if isinstance(e, ast.Composite):
        return {k: eval_expr(v, env) for k, v in e.entries}
    raise EvalError(f"cannot evaluate {type(e).__name__}")
