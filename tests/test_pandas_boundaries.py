"""Source lint: every pandas boundary (mapInPandas / applyInPandas /
applyInPandasWithState) in fossil_spark/ and __spark_entry__.py sits in one of
the two harnesses or in a listed site that cannot use them, no Python-RDD
path (`.rdd`, mapPartitions / mapPartitionsWithIndex) is left at all, and the
time-series and analytics queries build windows and time buckets only through
timeseries.ordered / timeseries.time_bucket. Pure AST scan (comments never match),
no Spark session."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
RDD_METHODS = {"mapPartitions", "mapPartitionsWithIndex"}

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


def _trees():
    for path in _sources():
        rel = os.path.relpath(path, REPO).replace(os.sep, "/")
        with open(path) as f:
            yield rel, ast.parse(f.read(), rel)


def _outer_defs(tree):
    """(node, name of its outermost enclosing def) for every node."""
    def walk(node, outer):
        for child in ast.iter_child_nodes(node):
            name = outer
            if outer is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                name = child.name
            yield child, outer
            yield from walk(child, name)

    return walk(tree, None)


def _boundary_calls():
    for rel, tree in _trees():
        for node, outer in _outer_defs(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in METHODS):
                yield rel, node.lineno, outer, node.func.attr


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


def test_no_python_rdd_paths():
    found = [
        f"{rel}:{node.lineno} {node.attr}"
        for rel, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and (node.attr == "rdd" or node.attr in RDD_METHODS)
    ]
    assert not found, (
        "Python-RDD path (rows leave the plan through Python workers); "
        "build it as a DataFrame plan: " + "; ".join(found)
    )


# The null-time rule (a null time sorts last and buckets alone) lives in
# timeseries.time_bucket / timeseries.ordered; these files order and bucket
# only through them.
ORDERED_FILES = {
    "fossil_spark/operators/timeseries.py",
    "fossil_spark/queries/analytics.py",
    "__spark_entry__.py",
}
BUILDERS = {"time_bucket", "ordered"}


def test_windows_and_buckets_go_through_the_builders():
    found = []
    for rel, tree in _trees():
        if rel not in ORDERED_FILES:
            continue
        for node, fn in _outer_defs(tree):
            line = f"{rel}:{getattr(node, 'lineno', '?')}"
            if fn not in BUILDERS and (
                (isinstance(node, ast.Name) and node.id == "Window")
                or (isinstance(node, ast.Attribute) and node.attr == "window")
            ):
                found.append(f"{line} {ast.unparse(node)} in {fn}")
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("asc", "desc")
                    and (not node.args
                         or ast.unparse(node.func.value) == "F")):
                found.append(f"{line} {ast.unparse(node)}: nulls order "
                             "unstated (asc_nulls_last / desc_nulls_last)")
    assert not found, (
        "order and bucket rows through timeseries.ordered / "
        "timeseries.time_bucket: " + "; ".join(found)
    )
