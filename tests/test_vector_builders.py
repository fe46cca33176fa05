"""The one-string vector-math builders in operators/ann.py against the
Column-lambda folds they replaced (kept here as the reference): every
score must agree bit for bit, including the ragged, null and zero-norm
edge rows."""

import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fossil_spark.operators import ann

# --- the reference: zip_with/aggregate folds built from Column lambdas


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


ROWS = {
    "clean": ([0.1, -2.5, 3e-3, 7.0], [1.5, 0.25, -9.0, 1e-4]),
    "ragged": ([1.0, 2.0, 3.0], [1.0, 2.0]),
    "null": (None, [1.0, 2.0]),
}
ZERO = {"zero_norm": ([0.0, 0.0], [0.0, 0.0])}


def _bits(v):
    return None if v is None else struct.pack("d", v)


def _frame(spark, rows):
    return spark.createDataFrame(
        [(name, a, b) for name, (a, b) in rows.items()],
        "name string, a array<double>, b array<double>",
    )


@pytest.fixture(scope="module")
def pairs(spark):
    return _frame(spark, ROWS)


def _scores(df):
    a, b = F.col("a"), F.col("b")
    return df.select(
        "name",
        F.expr(ann._hof_dot_sql("a", "b")).alias("dot"),
        _dot(a, b).alias("dot_ref"),
        F.expr(ann._hof_norm_sql("a")).alias("norm"),
        _norm(a).alias("norm_ref"),
        ann.cosine("a", "b").alias("cos"),
        _cosine(a, b).alias("cos_ref"),
        F.expr(ann._l2sq_sql("a", "b")).alias("l2sq"),
        _l2sq(a, b).alias("l2sq_ref"),
    ).collect()


def _assert_same(rows):
    for r in rows:
        for f in ("dot", "norm", "cos", "l2sq"):
            assert _bits(r[f]) == _bits(r[f + "_ref"]), (r["name"], f)


def test_builders_match_column_folds(pairs):
    out = _scores(pairs)
    _assert_same(out)
    by_name = {r["name"]: r for r in out}
    assert by_name["ragged"]["dot"] is None and by_name["ragged"]["l2sq"] is None
    assert by_name["null"]["cos"] is None


def test_zero_norm_cosine_same_on_both_folds(spark):
    # 0/0: DIVIDE_BY_ZERO under ANSI for either fold and for both top-k
    # engines (the HOF cosine_topk, the Arrow grid naming the vector),
    # null without it
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2],
                      "embedding": [[0.0, 0.0], [1.0, 2.0], [2.0, 1.0]]}),
        "vec_id long, embedding array<double>",
    )
    engines = (ann.cosine_topk, ann._cosine_topk_arrow)
    for fold in (ann.cosine("a", "b"), _cosine(F.col("a"), F.col("b"))):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            _frame(spark, ZERO).select(fold).collect()
    for topk in engines:
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            topk(emb, emb, k=2).collect()
    with pytest.raises(Exception, match="zero-norm (query|corpus) vector 0"):
        ann._cosine_topk_arrow(emb, emb, k=2).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        out = _scores(_frame(spark, ZERO))
        hof, arrow = (
            sorted(topk(emb, emb, k=2).collect(), key=lambda r: (r[0], r[1]))
            for topk in engines
        )
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    _assert_same(out)
    assert out[0]["cos"] is None
    assert hof == arrow
    assert [r["cos_sim"] for r in hof if 0 in (r["query_id"], r["vec_id"])] == [
        None, None, None, None
    ]


def test_hoisted_scorer_matches_per_pair_cosine(pairs):
    c = pairs.select("name", F.col("b").alias("__cv"))
    q = pairs.select(F.col("name").alias("qname"), F.col("a").alias("__qv"))
    c, q, sim = ann._hof_cosine(c, q)
    out = c.join(q, F.col("name") == F.col("qname")).select(
        "name", sim.alias("cos"), _cosine(F.col("__qv"), F.col("__cv")).alias("ref")
    ).collect()
    assert len(out) == len(ROWS)
    for r in out:
        assert _bits(r["cos"]) == _bits(r["ref"]), r["name"]


def test_kmeans_and_ivf_assign_through_one_builder(spark):
    # three directions at varied scales: colinear seeds tie @9, and the
    # tie must go to the smaller centroid id on both paths
    dirs = [[1.0, 0.0, 2.0], [0.0, 1.0, -1.0], [1.0, 1.0, 1.0]]
    emb = spark.createDataFrame(
        [(i, [x * (1 + i % 7) for x in dirs[i % 3]])
         for i in range(48)],
        "vec_id long, embedding array<double>",
    )
    k = 6
    km = ann.kmeans_cluster(emb, k=k, n_iter=0).collect()
    seeds = (
        emb.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h").limit(k).collect()
    )
    cents_one = spark.createDataFrame(
        pd.DataFrame({"__cents": [[
            {"list_id": i, "vec": list(r["embedding"])} for i, r in enumerate(seeds)
        ]]}),
        "__cents array<struct<list_id:int, vec:array<double>>>",
    )
    ivf = ann._ivf_assign(
        emb.select("vec_id", F.col("embedding").alias("__cv")),
        "__cv", cents_one, 1, ["vec_id"],
    ).collect()
    assert {r["vec_id"]: r["cluster"] for r in km} == {
        r["vec_id"]: r["list_id"] for r in ivf
    }
    assert len({r["cluster"] for r in km}) < k  # ties did occur
