"""Source lint: every pandas boundary (mapInPandas / applyInPandas /
applyInPandasWithState) in fossil_spark/ and __spark_entry__.py sits in one of
the two harnesses or in a listed site that cannot use them. Pure AST
scan, no Spark session."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}

# (file, outermost enclosing def, method)
ALLOWED = {
    # row-wise: the one harness
    ("fossil_spark/operators/__init__.py", "per_row", "mapInPandas"),
    # sequential per key: the time-series harness
    ("fossil_spark/operators/timeseries.py", "_per_key", "applyInPandas"),
    # decode_files builds one topic registry per partition, not per row
    ("fossil_spark/importer.py", "import_reference_db", "mapInPandas"),
    # pq_ann's ADC scan is vectorized per Arrow batch, not per row
    ("fossil_spark/operators/ann.py", "pq_ann", "mapInPandas"),
    # the all-pairs cosine grid is a cogroup
    ("fossil_spark/operators/ann.py", "_cosine_pairs_arrow", "applyInPandas"),
    # greedy bin packing is a fold over each bucket group
    ("fossil_spark/operators/text.py", "pack_documents", "applyInPandas"),
    # streaming state: one call per key and micro-batch, state carried
    ("fossil_spark/streaming/cusum.py", "streaming_cusum",
     "applyInPandasWithState"),
    ("fossil_spark/streaming/stateful.py", "streaming_sessionize",
     "applyInPandasWithState"),
}


def _sources():
    for root, _dirs, files in os.walk(os.path.join(REPO, "fossil_spark")):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(root, name)
    yield os.path.join(REPO, "__spark_entry__.py")


def _boundary_calls():
    for path in _sources():
        rel = os.path.relpath(path, REPO).replace(os.sep, "/")
        with open(path) as f:
            tree = ast.parse(f.read(), rel)

        def walk(node, outer):
            for child in ast.iter_child_nodes(node):
                name = outer
                if outer is None and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    name = child.name
                if (isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr in METHODS):
                    yield rel, child.lineno, outer, child.func.attr
                yield from walk(child, name)

        yield from walk(tree, None)


def test_pandas_boundaries_go_through_the_harnesses():
    found = list(_boundary_calls())
    stray = [
        f"{rel}:{line} {method} in {fn}"
        for rel, line, fn, method in found
        if (rel, fn, method) not in ALLOWED
    ]
    assert not stray, (
        "pandas boundary outside the harnesses — route row-wise work "
        "through fossil_spark.operators.per_row (per-key sequential "
        "work through timeseries._per_key): " + "; ".join(stray)
    )
    stale = ALLOWED - {(rel, fn, method) for rel, _l, fn, method in found}
    assert not stale, f"allowlisted sites no longer exist: {sorted(stale)}"
