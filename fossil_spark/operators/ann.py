"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force baseline. The query set is broadcast, the
  corpus streams through one whole-stage-codegen pass (zip_with +
  aggregate are JVM-side higher-order functions, no Python). Cost is
  O(|corpus| * |queries|) — correct baseline, not the scale path.
- lsh_ann: random-hyperplane LSH bucketing. Candidates come from an
  equi-join on bucket signature, so cost is O(|corpus|) + bucket-local
  scoring. Hyperplanes are md5-seeded — deterministic, no state to
  ship. Recall is tunable via planes/tables.
- ivf_ann: inverted-list probing against deterministic coarse
  centroids — prunes the corpus per query instead of compressing it.
- pq_ann: product quantization (ADC scan over byte codes + exact
  rerank) — the memory-bounded path when the vectors themselves no
  longer fit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast

from fossil_spark.catalog import Slot, memo


# --- vector-math builders ----------------------------------------------
# Every dot product, norm, cosine and squared-L2 fold is built here, as
# ONE SQL string: one py4j call per expression, where the same tree
# built from Column lambdas (zip_with + aggregate) cost ~70 round-trips
# (the ANN keys spent 3-6 s of driver time per query building plans).
# Each fold runs left to right from 0.0D, the order the DuckDB oracle
# mirrors with list_reduce; a ragged pair or a null vector folds to
# null, and a zero-norm cosine divides by zero (DIVIDE_BY_ZERO under
# ANSI mode, null without it).
#
# Runtime shape (sf0.1, 1M-pair broadcast-nested-loop scan, min-of-3):
# - never emit a FLAT unrolled wide dot (a[0]*b[0] + ...): the single
#   generated method exceeds HotSpot's HugeMethodLimit and runs in the
#   bytecode interpreter, 13.3 s vs 2.6 s for the HOF fold;
# - the unrolled L2 distance is the exception: its repeated subterms
#   trigger codegen subexpression elimination, 0.5 s vs 2.1 s HOF
#   (_l2_sql, chosen by a caller that knows the width);
# - cosine scorers hoist each side's norm out of the pair loop (once
#   per row, not per pair; identical doubles): 1.7 s vs 2.6 s.
# Literals round-trip exactly via DOUBLE('<repr>') (Java parseDouble
# of a shortest-repr string).


def _flit_array(xs: list[float]) -> str:
    return "array(" + ",".join(f"DOUBLE('{float(x)!r}')" for x in xs) + ")"


def _fold_sql(terms: list[str]) -> str:
    e = "0.0D"
    for t in terms:
        e = f"({e} + {t})"
    return e


def _hof_dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" 0.0D, (acc, x) -> acc + x)"
    )


def _hof_norm_sql(a: str) -> str:
    return f"SQRT(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_hof_dot_sql(a, b)}"
        f" / ({_hof_norm_sql(a)} * {_hof_norm_sql(b)})"
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns, by name."""
    return F.expr(_cosine_sql(a, b))


def _guarded_cosine(a: str, b: str) -> Column:
    """cosine(a, b), but null where either norm is zero: the centroid
    audits' convention (the search scorers keep the NaN). Their norms
    are self-dots; the doubles are the same as _hof_norm_sql's."""
    denom = f"(SQRT({_hof_dot_sql(a, a)}) * SQRT({_hof_dot_sql(b, b)}))"
    return F.expr(
        f"CASE WHEN {denom} > 0 THEN {_hof_dot_sql(a, b)} / {denom} END"
    )


def _l2sq_sql(a: str, b: str) -> str:
    """Squared euclidean distance as one zip_with/aggregate fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" 0.0D, (acc, x) -> acc + x)"
    )


def _l2_sql(a: str, b: str, dim: int) -> str:
    return "SQRT({})".format(
        _fold_sql(
            [f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(dim)]
        )
    )


def _nearest_sql(vec: str, cents: str, id_field: str) -> str:
    """Every centroid of `cents` (array<struct<`id_field`, vec>>) as a
    (negcos, `id_field`) struct, nearest first: the negated cosine
    rounded @9, ties on the smaller centroid id (array_sort is
    lexicographic). ivf_ann slices the first n, kmeans_cluster takes
    the first."""
    return (
        f"array_sort(transform({cents}, c -> named_struct("
        f"'negcos', -round({_cosine_sql(vec, 'c.vec')}, 9),"
        f" '{id_field}', c.{id_field})))"
    )


# the per-group score grid of _cosine_pairs_arrow is chunked along the
# corpus axis to at most this many float64 cells (32 MB)
_ARROW_PAIR_CELLS = 4_000_000


def _cosine_pairs_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """All-pairs RAW cosine scores as one cogrouped Arrow boundary
    (guide §4.2, the matrix_profile engine precedent): the corpus
    hashes into defaultParallelism buckets, the query set replicates
    into every bucket, and each (corpus-bucket x all-queries) group
    scores in numpy. Returns (query_id, id, __sim) — UNROUNDED and
    with self-pairs still present, so _cosine_topk_arrow applies the
    exact same filter/round/rank the HOF path does.

    IEEE parity is the whole design (the _matrix_profile_arrow rule):
    the dim axis runs as an explicit t-loop (`acc = acc + q_t * c_t`,
    0.0-init) so every per-pair dot and norm accumulates in the HOF
    fold's exact left-to-right order — numpy's own matmul/axis-sum
    use blocked summation and would drift in the last ulp. Norms are
    hoisted per ROW and multiplied before the divide, matching the
    hoisted HOF shape bit for bit. round@6 stays Spark-side so
    both engines (and the DuckDB oracle) share one rounding
    semantic.

    Vector hygiene: this engine requires clean fixed-width vectors,
    and both sides are filtered to them in the Spark plan: null
    vectors are dropped, and so is every vector whose width is not
    `dim` — or, without `dim`, not the width of the corpus vector
    with the smallest id (a one-row aggregate joined into both sides,
    so the kept rows never depend on partitioning or row order). (The
    HOF path instead yields a null score that the rank filter
    discards — same surviving rows on clean data.)

    Memory bound (r13 verdict #6): the per-group score grid is
    chunked along the corpus axis so no intermediate exceeds
    ~_ARROW_PAIR_CELLS float64 cells, whatever
    |corpus|/defaultParallelism grows to — chunking the corpus axis
    leaves every per-pair fold untouched, so scores stay
    bit-identical.

    Zero norm: as the HOF fold's 0/0 under ANSI mode, a kept query or
    corpus vector of zero norm raises DIVIDE_BY_ZERO, naming its id;
    without ANSI its pairs score null."""
    import numpy as np
    import pandas as pd

    max_cells = _ARROW_PAIR_CELLS  # read here, on the Spark driver
    spark = corpus.sparkSession
    ansi = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    nb = max(int(spark.sparkContext.defaultParallelism), 1)
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    ).filter(F.col("__cv").isNotNull())
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).filter(F.col("__qv").isNotNull())
    if dim:
        c = c.filter(F.size("__cv") == dim)
        q = q.filter(F.size("__qv") == dim)
    else:
        width = broadcast(
            c.agg(F.min_by(F.size("__cv"), F.col(id_col)).alias("__w"))
        )
        c = c.join(width, F.size("__cv") == F.col("__w")).drop("__w")
        q = q.join(width, F.size("__qv") == F.col("__w")).drop("__w")
    c = c.withColumn(
        "__b", F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int")
    )
    qrep = q.crossJoin(
        spark.range(nb).select(F.col("id").cast("int").alias("__b"))
    )
    qid_t = queries.schema[id_col].dataType.simpleString()
    cid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, `{id_col}` {cid_t}, __sim double"

    def score(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        def empty():
            return pd.DataFrame(
                {
                    "query_id": qpdf["query_id"].iloc[:0],
                    id_col: cpdf[id_col].iloc[:0],
                    "__sim": pd.Series(dtype="float64"),
                }
            )

        if not len(cpdf) or not len(qpdf):
            return empty()

        def nonzero(norms, ids, side):
            if ansi and not norms.all():
                raise ZeroDivisionError(
                    f"[DIVIDE_BY_ZERO] cosine of the zero-norm {side} "
                    f"vector {ids[norms == 0][0]}"
                )

        Q = np.array(qpdf["__qv"].tolist(), dtype=np.float64)
        width = Q.shape[1]
        qn = np.zeros(len(Q))
        for t in range(width):
            qn = qn + Q[:, t] * Q[:, t]
        qroot = np.sqrt(qn)[:, None]
        qids = qpdf["query_id"].to_numpy()
        cids_all = cpdf[id_col].to_numpy()
        nonzero(qn, qids, "query")
        chunk = max(1, max_cells // max(len(Q), 1))
        frames = []
        for lo in range(0, len(cpdf), chunk):
            cvals = cpdf["__cv"].iloc[lo:lo + chunk]
            C = np.array(cvals.tolist(), dtype=np.float64)
            dot = np.zeros((len(Q), len(C)))
            for t in range(width):
                dot = dot + Q[:, t, None] * C[None, :, t]
            cn = np.zeros(len(C))
            for t in range(width):
                cn = cn + C[:, t] * C[:, t]
            nonzero(cn, cids_all[lo:lo + chunk], "corpus")
            sim = dot / (qroot * np.sqrt(cn)[None, :])
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, len(C)),
                        id_col: np.tile(cids_all[lo:lo + chunk], len(Q)),
                        "__sim": sim.ravel(),
                    }
                )
            )
        return frames[0] if len(frames) == 1 else pd.concat(
            frames, ignore_index=True
        )

    return (
        c.groupBy("__b")
        .cogroup(qrep.groupBy("__b"))
        .applyInPandas(score, out_schema)
    )


def _hof_cosine(c: DataFrame, q: DataFrame):
    """The broadcast HOF scorer over (__cv, __qv) shared by
    cosine_topk, filtered_topk and range_search; `q` comes broadcast.
    Each side's norm hoists out of the pair loop: computed once per
    ROW (not per pair), bitwise-identical scores — measured 2.6 ->
    1.7 s on the 1M-pair scan at sf0.1. Returns (c, q, sim)."""
    c = c.withColumn("__cn", F.expr(_hof_norm_sql("__cv")))
    q = broadcast(q.withColumn("__qn", F.expr(_hof_norm_sql("__qv"))))
    return c, q, F.expr(f"{_hof_dot_sql('__qv', '__cv')} / (__qn * __cn)")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self-matches
    excluded). Scores are rounded so ranking ties break on id
    deterministically regardless of float summation order. The query
    set broadcasts and every pair scores as a JVM higher-order-function
    fold, with the per-row norms hoisted out of the pair loop
    (bitwise-identical fold order)."""
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    c, q, sim = _hof_cosine(c, q)
    scored = (
        c.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(sim, round_to).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k, id_col)


def _cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """cosine_topk's rows, scored by the cogrouped numpy pair grid
    (_cosine_pairs_arrow, bit-identical to the HOF fold) — the right
    call for LARGE query sets, where the interpreted HOF fold pays
    JVM-interpreter cost per pair. `dim` is the clean-width vector
    pre-filter."""
    scored = (
        _cosine_pairs_arrow(corpus, queries, id_col, vec_col, dim=dim)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(F.col("__sim"), round_to).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k, id_col)


def _rank_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- exact-truth catalog ------------------------------------------------


_TRUTH_KMAX = 10  # the largest k any shipped audit asks of the truth


def topk_truth(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """The exact-truth catalog entry for (corpus, queries): brute
    force materialized ONCE per session at max(k, 10) and served at
    any k <= that by a rank filter — cosine_topk's @round_to-rounded
    scores + id tie-break make ranks deterministic, so the filtered
    rows ARE the k-truth bitwise (recall_eval@5, ndcg@5 and
    recall_curve@10 all read the same persisted 10-truth instead of
    three brute-force passes)."""
    kmax = max(int(k), _TRUTH_KMAX)
    t = memo(
        cosine_topk(corpus, queries, kmax, id_col, vec_col, round_to),
        tag="truth",
    )
    return t.filter(F.col("rank") <= k) if k < kmax else t


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    filter_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Filtered vector search: exact top-k cosine neighbors AMONG the
    corpus rows sharing the query's `filter_col` value (the
    tenant/category/language predicate every production vector store
    bolts onto similarity search — post-filtering top-k from an
    unfiltered index under-fills results; this filters first).

    Shape: the predicate is the JOIN KEY, not a post-filter — the
    broadcast-hash join prunes non-matching candidates at the scan,
    and a corpus bucketed/partitioned by `filter_col` turns it into a
    partition-pruned local scan at 100 TB. Scores round @`round_to`
    so ranking ties break on id identically to [[ann_bruteforce]].
    Returns (query_id, vec_id, label, cos_sim, rank)."""
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(filter_col).alias("__ql"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
    )
    c = corpus.select(
        F.col(id_col),
        F.col(filter_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    c, q, sim = _hof_cosine(c, q)
    scored = (
        c.join(q, c[filter_col] == q["__ql"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            filter_col,
            F.round(sim, round_to).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane weights from
    md5 — reproducible on any engine/cluster without shipping state."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane},{d}".encode()).hexdigest()[:8]
        out.append(int(h, 16) / 0xFFFFFFFF * 2.0 - 1.0)
    return out


def lsh_signature(
    vec: str, dim: int, planes: int = 8, table: int = 0
) -> Column:
    """Bit-signature of the array<double> column named `vec`: sign of
    the dot product with each of `planes` md5-seeded hyperplanes,
    packed into a long. Each `table` gets independent hyperplanes
    (seeded by table index). One SQL expression, one py4j call."""
    parts = ["CAST(0 AS BIGINT)"]
    for p in range(planes):
        ws = _hyperplane(table * 1000 + p, dim)
        parts.append(
            f"(CASE WHEN {_hof_dot_sql(vec, _flit_array(ws))} > 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return F.expr(" + ".join(parts))


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are assigned to the
    nearest of `n_lists` coarse centroids (inverted lists); each query
    probes its `n_probe` nearest lists and scores only those members.

    Centroids are a deterministic sample of the corpus itself (min
    md5(id) order — no RNG state, reproducible anywhere), which is the
    standard IVF bootstrap before any k-means refinement. Expected
    candidates per query ~ |corpus| * n_probe / n_lists. Two broadcast
    passes (centroids are tiny); one shuffle on list id."""
    cents = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(n_lists)
        .select(F.col("__v").alias("__cent"))
        .collect()
    )
    # list assignment is a per-row higher-order expression against one
    # broadcast centroid row — the earlier crossJoin(corpus x
    # centroids) + row_number() argmin shuffled n_lists x |corpus| rows
    # just to pick a minimum, which does not survive 100 TB.
    cents_one = _centroids_row(
        corpus.sparkSession, [row["__cent"] for row in cents], "list_id"
    )

    c = _ivf_assign(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")),
        "__cv", cents_one, 1, [id_col, "__cv"],
    )
    q = broadcast(
        _ivf_assign(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("__qv"),
            ),
            "__qv", cents_one, n_probe, ["query_id", "__qv"],
        )
    )
    sim = cosine("__qv", "__cv")
    scored = (
        c.join(q, "list_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(sim, round_to).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", id_col])
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroids_row(spark, centroids, id_field: str) -> DataFrame:
    """All `centroids` as ONE broadcast row, `__cents`
    array<struct<id_field:int, vec:array<double>>> (ids are list
    positions), for a per-row higher-order nearest-centroid pick: the
    1-row cross join is a BroadcastNestedLoopJoin (map-side, no
    shuffle). Built from pandas (Arrow, a LocalRelation): a Python-list
    input plans as a Python-RDD scan that starts a Python worker per
    task."""
    import pandas as pd

    rows = [
        {id_field: i, "vec": [float(x) for x in c]}
        for i, c in enumerate(centroids)
    ]
    return broadcast(spark.createDataFrame(
        pd.DataFrame({"__cents": [rows]}),
        f"__cents array<struct<{id_field}:int, vec:array<double>>>",
    ))


def _ivf_assign(
    df: DataFrame, vcol: str, cents_one: DataFrame, n: int, keep: list[str]
) -> DataFrame:
    """ivf_ann's nearest-n list ids per vector, fully map-side against
    the one-row broadcast `__cents` (array<struct<list_id, vec>>):
    _nearest_sql, slice n, explode. The explode materializes list_id as
    a plain attribute, keeping higher-order exprs out of join keys."""
    ranked = F.expr(
        f"slice({_nearest_sql(vcol, '__cents', 'list_id')}, 1, {int(n)})"
    )
    return (
        df.crossJoin(cents_one)
        .withColumn("__nl", F.explode(ranked))
        .select(*keep, F.col("__nl.list_id").alias("list_id"))
    )


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors that share a bucket
    with the query in ANY of `tables` independent hyperplane tables
    (standard multi-table LSH: each table has 2^planes buckets; more
    tables -> higher recall, more candidates).

    At scale the bucket equi-join replaces the full cross product:
    expected candidates per query ~ tables * |corpus| / 2^planes. One
    explode (corpus x tables) + one join keyed by (table, bucket)."""
    sigs = [
        F.struct(
            F.lit(t).alias("table"),
            lsh_signature("__v", dim, planes, t).alias("bucket"),
        )
        for t in range(tables)
    ]
    c = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .select(id_col, "__v", F.explode(F.array(*sigs)).alias("tb"))
        .select(id_col, F.col("__v").alias("__cv"), "tb.table", "tb.bucket")
    )
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .select("query_id", "__v", F.explode(F.array(*sigs)).alias("tb"))
        .select("query_id", F.col("__v").alias("__qv"), "tb.table", "tb.bucket")
    )
    candidates = (
        c.join(q, ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, "__qv", "__cv")
        .dropDuplicates(["query_id", id_col])
    )
    scored = candidates.select(
        "query_id",
        id_col,
        F.round(cosine("__qv", "__cv"), round_to).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _unit(vec_col: str) -> Column:
    """The column `vec_col` as array<double>, scaled to unit norm (a
    zero vector stays as it is)."""
    v = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    n = _hof_norm_sql(v)
    return F.expr(
        f"CASE WHEN {n} > 0 THEN transform({v}, x -> x / {n}) ELSE {v} END"
    )


def pq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_cents: int = 64,
    n_iter: int = 5,
    rerank_factor: int = 4,
    train_sample: int = 10_000,
    q_batch: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each unit-
    normalized vector into `m` subvectors, vector-quantize each
    subspace against its own `n_cents`-entry codebook, and scan the
    corpus by asymmetric distance (ADC) — per-query tables of
    subspace inner products gathered through the corpus codes.

    THE memory-bounded scale path for similarity search: a 64-dim
    float64 vector becomes m one-byte codes (32-64x compression), so
    100 B vectors fit where raw ones could not, and each pair costs m
    table lookups instead of `dim` multiplies.

    Spark shape (the faiss deployment shape, re-expressed):
    - TRAIN on a bounded md5-ordered sample pulled to the driver
      (codebooks are always trained on a sample in practice; the pull
      is bounded by `train_sample`, like the centroid pulls in
      ivf_ann/kmeans_cluster) — vectorized numpy Lloyd, RNG-free
      seeds, fixed iterations.
    - SCAN via ONE Arrow-batched mapInPandas pass over the corpus:
      per batch, codes = argmin over codebooks and scores = numpy
      table gathers — SIMD-shaped work where interpreted per-element
      higher-order functions measured 60+ s/pass on 500 rows. Each
      batch emits only its local top k*rerank_factor per query, so
      the operator's output is bounded, never |corpus| x |queries|.
    - RERANK: the global top k*rerank_factor candidates per query are
      re-scored EXACTLY against raw vectors (join on candidate ids —
      shuffle bounded by the candidate count), closing the recall gap
      on hard near-isotropic data. Measured recall@5 = 0.95 on the
      synthetic embeddings (vs 0.1 for raw ADC ranking at m=8).

    Queries stream to the driver in bounded `q_batch` chunks
    (toLocalIterator — never the whole set at once): each chunk's ADC
    tables (q_batch x m x n_cents doubles) ship in one scan closure
    and the per-chunk candidate sets union before the shared prune +
    rerank. Driver memory is O(q_batch x dim), independent of |Q| —
    the faiss batching shape. Each chunk is a full corpus pass, so
    wall-clock grows as ceil(|Q| / q_batch) corpus scans (inherent to
    ADC); for corpus-x-corpus joins use the LSH/IVF paths instead.
    Returns (query_id, id, cos_sim, rank) with exact scores over the
    PQ candidate set; rows-only oracle (iterative training), recall
    asserted in tests."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    vecs = corpus.select(
        F.col(id_col), _unit(vec_col).alias("__v")
    )
    sample = (
        vecs.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(train_sample)
        .select("__v")
        .collect()
    )
    X = np.array([r["__v"] for r in sample], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    nc = min(n_cents, len(X))
    # books[s]: (nc, sub); seeds = first nc sample vectors (md5 order)
    books = [X[:nc, s * sub:(s + 1) * sub].copy() for s in range(m)]
    for _ in range(n_iter):
        for s in range(m):
            Xs = X[:, s * sub:(s + 1) * sub]
            d = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
            code = d.argmin(1)  # ties -> lowest cid (numpy argmin)
            for c in range(nc):
                mask = code == c
                if mask.any():  # empty cells keep their previous centroid
                    books[s][c] = Xs[mask].mean(0)
    B = np.stack(books)  # (m, nc, sub)

    n_cand = k * rerank_factor

    id_field = corpus.schema[id_col]
    out_schema = StructType([
        StructField("query_id", id_field.dataType),
        StructField(id_col, id_field.dataType),
        StructField("pq_score", DoubleType()),
    ])

    def chunk_scan(qids, tables):
        # one bounded chunk's closure: its qids + (nq_chunk, m, nc)
        # ADC tables; emits the chunk's local top candidates per batch
        def scan(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf["__v"].tolist(), dtype=np.float64)
                ids = pdf[id_col].to_numpy()
                Vs = V.reshape(len(V), m, sub)
                # codes: per subspace argmin ||v_s - c||^2
                codes = np.empty((len(V), m), dtype=np.int64)
                for s in range(m):
                    d = ((Vs[:, s, None, :] - B[s][None, :, :]) ** 2).sum(-1)
                    codes[:, s] = d.argmin(1)
                # scores: (nq, b) = sum over subspaces of table gathers
                scores = np.zeros((len(qids), len(V)))
                for s in range(m):
                    scores += tables[:, s, :][:, codes[:, s]]
                out = []
                top = min(n_cand, len(V))
                for qi, qid in enumerate(qids):
                    sc = scores[qi]
                    cand = np.argpartition(-sc, top - 1)[:top]
                    for ci in cand:
                        if ids[ci] != qid:
                            out.append(
                                (qid, ids[ci], round(float(sc[ci]), round_to))
                            )
                yield pd.DataFrame(
                    out, columns=["query_id", id_col, "pq_score"]
                )

        return scan

    spark = corpus.sparkSession
    qnorm = queries.select(
        F.col(id_col).alias("__qid"),
        _unit(vec_col).alias("__qv"),
    )
    cands = spark.createDataFrame([], out_schema)
    chunk_ids: list = []
    chunk_vecs: list = []

    def flush():
        nonlocal cands, chunk_ids, chunk_vecs
        if not chunk_ids:
            return
        Q = np.array(chunk_vecs, dtype=np.float64)
        tables = np.einsum("qms,mcs->qmc", Q.reshape(len(Q), m, sub), B)
        cands = cands.unionByName(
            vecs.mapInPandas(chunk_scan(list(chunk_ids), tables), out_schema)
        )
        chunk_ids, chunk_vecs = [], []

    for r in qnorm.toLocalIterator():
        chunk_ids.append(r["__qid"])
        chunk_vecs.append(r["__qv"])
        if len(chunk_ids) >= q_batch:
            flush()
    flush()
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col(id_col)
    )
    pruned = (
        cands.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_cand)
        .select("query_id", id_col)
    )
    qv = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _unit(vec_col).alias("__qv"),
        )
    )
    rer = (
        pruned.join(vecs, id_col)
        .join(qv, "query_id")
        .select(
            "query_id",
            id_col,
            F.round(F.expr(_hof_dot_sql("__qv", "__v")), round_to).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return rer.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_cluster(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Spherical k-means over an embedding column — the clustering
    step behind corpus domain discovery and semantic curriculum
    bucketing. Fully deterministic: seeds are the k corpus vectors
    with minimal md5(id) (the same RNG-free bootstrap ivf_ann uses),
    Lloyd iterations are fixed-count, and centroid means use the
    repo's deterministic-sum convention (decimal(30,8) accumulate,
    round(8), cast double, divide) so results are partition-order
    independent AND exactly reproducible by an external SQL engine —
    a fixed-n_iter run has a full hash-match oracle (the
    cluster_kmeans_fixed registry key).

    Scale shape: assignment is map-side (ONE broadcast row holding
    all centroids, higher-order argmax — no shuffle); the update is
    one groupBy on (cluster, dim) over exploded components — one
    shuffle of k*dim cells per round. The k x dim centroid matrix is
    driver-held (bounded, like ivf_ann's centroid pull); everything
    row-scale stays distributed.

    Returns (id, cluster, cos_sim-to-centroid)."""
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    # INPUT-keyed session memo (r13): the Lloyd loop runs collect()
    # jobs at plan-BUILD time (seeds + one centroid pull per round),
    # so the output-keyed memo() would still pay them on every call.
    # The fixed run is shared by cluster_kmeans_fixed,
    # embedding_cluster_purity and pipeline_semdedup.
    slot = Slot(f"kmeans:{k}:{n_iter}:{round_to}:{id_col}", vecs)
    hit = slot.get(
        lambda cached: cached.columns == [id_col, "cluster", "cos_sim"])
    if hit is not None:
        return hit
    seed_rows = (
        vecs.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(k)
        .select("__v")
        .collect()
    )
    cents = [[float(x) for x in r["__v"]] for r in seed_rows]
    spark = corpus.sparkSession

    def with_assignment(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
        one = _centroids_row(spark, centroids, "cid")
        best = F.expr(f"element_at({_nearest_sql('__v', '__cents', 'cid')}, 1)")
        return df.crossJoin(one).select(
            id_col,
            "__v",
            best["cid"].alias("cluster"),
            (-best["negcos"]).alias("cos_sim"),
        )

    for _ in range(n_iter):
        assigned = with_assignment(vecs, cents)
        cells = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.round(F.sum(F.col("x").cast("decimal(30,8)")), 8)
                    .cast("double") / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cluster keeps its seed
        by_cluster: dict[int, dict[int, float]] = {}
        for row in cells:
            by_cluster.setdefault(row["cluster"], {})[row["pos"]] = row["m"]
        for cid, dims in by_cluster.items():
            for pos, m in dims.items():
                new_cents[cid][pos] = m
        cents = new_cents

    out = with_assignment(vecs, cents).select(
        id_col, "cluster", F.round(F.col("cos_sim"), round_to).alias("cos_sim")
    )
    return slot.put(out)


def cluster_purity(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Clustering-quality audit against ground-truth labels: per
    k-means cluster, the majority label and its share (purity) — the
    external-validation readout that says whether [[cluster_kmeans]]'s
    unsupervised buckets recover the known structure before a
    curriculum/domain-mix decision trusts them. Uses the
    deterministic fixed-iteration run ([[cluster_kmeans_fixed]]), so
    the full chain — seeds, Lloyd steps, assignment, majority vote —
    is SQL-reproducible.

    Shape: the kmeans assignment joins the label column on the
    narrow id, one (cluster, label) groupBy, then a struct argmax
    per cluster (ties: lower label wins — the peak_hour rule).
    Returns (cluster, n, majority_label, n_majority, purity)."""
    asg = kmeans_cluster(corpus, k, n_iter, id_col, vec_col).select(
        id_col, "cluster"
    )
    j = asg.join(corpus.select(id_col, label_col), id_col)
    g = j.groupBy("cluster", F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    pick = F.max(
        F.struct(
            F.col("__c").alias("c"),
            (-F.col("label")).alias("nl"),
            F.col("label").alias("lbl"),
        )
    )
    agg = g.groupBy("cluster").agg(
        F.sum("__c").cast("long").alias("n"), pick.alias("__m")
    )
    return agg.select(
        "cluster",
        "n",
        F.col("__m.lbl").cast("int").alias("majority_label"),
        F.col("__m.c").cast("long").alias("n_majority"),
        (
            F.floor(
                F.col("__m.c").cast("double") / F.col("n").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("purity"),
    )


def _moment_cells(vecs: DataFrame, d: int) -> DataFrame:
    """The distributed moment pass shared by pca_project and
    pca_moments: one posexplode of per-row component cells — pairs
    (i, j), i<=j carry products, i == -1 rows carry plain component
    sums — into one groupBy((i, j)) with exact decimal(38,10)
    accumulation (partition-order independent). Emits the O(d^2)
    bounded cell set (i, j, s, n)."""
    cells = vecs.select(
        F.posexplode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(d - 1)),
                    lambda i: F.concat(
                        F.array(
                            F.struct(
                                F.lit(-1).alias("i"),
                                i.alias("j"),
                                F.element_at(F.col("__v"), i + 1).alias("x"),
                            )
                        ),
                        F.transform(
                            F.sequence(i, F.lit(d - 1)),
                            lambda j: F.struct(
                                i.alias("i"),
                                j.alias("j"),
                                (
                                    F.element_at(F.col("__v"), i + 1)
                                    * F.element_at(F.col("__v"), j + 1)
                                ).alias("x"),
                            ),
                        ),
                    ),
                )
            )
        ).alias("__p", "__c")
    ).select(F.col("__c.i").alias("i"), F.col("__c.j").alias("j"),
             F.col("__c.x").alias("x"))
    return cells.groupBy("i", "j").agg(
        F.sum(F.col("x").cast("decimal(38,10)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def pca_moments(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """pca_project's moment/covariance pass exposed as a verifiable
    DataFrame: everything the driver-side eigh consumes — the exact
    decimal second-moment sums AND the covariance cells computed with
    the SAME float op order the driver uses (float(decimal)/n for
    each moment, then m2_ij - mu_i * mu_j) — so an external SQL
    engine can hash-match the entire distributed portion of PCA,
    leaving only the O(d^2) driver-local eigendecomposition
    unverified (covered by unit tests on known spectra).

    Returns one row per upper-triangle cell (i <= j):
    (i, j, n, s, cov) with s = the exact pair-product sum as double
    and cov rounded to 9 decimals (the raw double differs from a C++
    engine by ~1 ulp when the compiler contracts a/n - mu*mu into an
    FMA; 9 decimals is far above that noise and far below use)."""
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    head = vecs.select("__v").first()
    if head is None:
        return corpus.sparkSession.createDataFrame(
            [], "i int, j int, n bigint, s double, cov double"
        )
    d = len(head["__v"])
    vecs = vecs.filter(F.size("__v") == d)
    # the O(d^2) cell set is tiny — checkpoint it lazily so the mu
    # pull below materializes it ONCE and the returned covariance
    # frame reuses the cells instead of re-running the moment pass
    # (measured 1.49 s vs 1.78 s at sf0.1 on the parallel layout)
    agg = _moment_cells(vecs, d).localCheckpoint(eager=False)
    # the mean side is bounded (d cells) — pull it driver-side with
    # EXACTLY pca_project's float(decimal)/n arithmetic and broadcast
    # the d-vector as one literal, keeping the pair side to ONE scan
    # (no 3-branch re-execution of the moment aggregation)
    mu = [0.0] * d
    for r in agg.filter(F.col("i") == -1).collect():
        mu[r["j"]] = float(r["s"]) / r["n"]
    mu_lit = F.array(*[F.lit(x) for x in mu])
    return agg.filter(F.col("i") >= 0).select(
        "i", "j", "n",
        F.col("s").cast("double").alias("s"),
        F.round(
            F.col("s").cast("double") / F.col("n")
            - F.element_at(mu_lit, F.col("i") + 1)
            * F.element_at(mu_lit, F.col("j") + 1),
            9,
        ).alias("cov"),
    )


def pca_project(
    corpus: DataFrame,
    n_components: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> tuple[DataFrame, list[float]]:
    """PCA projection of an embedding column — the dimensionality-
    reduction step behind corpus visualization, whitening, and cheap
    pre-clustering. Returns (projections DataFrame, explained-variance
    ratios).

    Scale shape: ONE distributed pass builds the d-vector of sums and
    the d(d+1)/2 upper-triangle second-moment sums via posexplode of
    per-row component products -> one groupBy((i,j)) with map-side
    partial aggregation; only the O(d^2) moment cells reach the
    driver (d=64 -> 2 080 cells, like ivf_ann's bounded centroid
    pull) where numpy eigh runs on the d x d covariance. Projection
    is then map-side only: the top-k eigenvectors broadcast as ONE
    literal array and each row's components come from JVM-side
    aggregate() — no Python, no second shuffle.

    Deterministic: moment sums accumulate in decimal(38,10) (exact,
    partition-order independent); eigh input is therefore bit-stable,
    and each eigenvector's sign is canonicalized (largest-|component|
    positive)."""
    import numpy as np

    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    head = vecs.select("__v").first()
    if head is None:
        id_type = corpus.schema[id_col].dataType.simpleString()
        return (
            corpus.sparkSession.createDataFrame(
                [], f"{id_col} {id_type}, " + ", ".join(
                    f"pc{i + 1} double" for i in range(n_components)
                )
            ),
            [],
        )
    d = len(head["__v"])
    # Ragged rows would contribute NULL moment products (dropped from
    # the decimal sums but still counted in n, silently skewing the
    # covariance) — exclude them from BOTH the moment pass and the
    # projection instead.
    vecs = vecs.filter(F.size("__v") == d)
    moments = _moment_cells(vecs, d).collect()
    n = moments[0]["n"]
    mu = np.zeros(d)
    m2 = np.zeros((d, d))
    for r in moments:
        if r["i"] == -1:
            mu[r["j"]] = float(r["s"]) / n
        else:
            m2[r["i"], r["j"]] = m2[r["j"], r["i"]] = float(r["s"]) / n
    cov = m2 - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    comps, ratios = [], []
    total_var = float(evals.sum())
    for idx in order:
        v = evecs[:, idx]
        v = v if v[np.argmax(np.abs(v))] >= 0 else -v
        comps.append(v)
        ratios.append(float(evals[idx]) / total_var if total_var > 0 else 0.0)
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    out_cols = []
    for c_i, v in enumerate(comps):
        v_lit = F.array(*[F.lit(float(x)) for x in v])
        proj = F.aggregate(
            F.zip_with(
                F.zip_with(F.col("__v"), mu_lit, lambda x, m: x - m),
                v_lit,
                lambda cx, w: cx * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out_cols.append(F.round(proj, round_to).alias(f"pc{c_i + 1}"))
    return vecs.select(id_col, *out_cols), ratios


def sq8_quantize(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 12,
) -> DataFrame:
    """Scalar quantization audit (the faiss SQ8 shape, complementing
    pq_ann): each dimension maps to an int8 code against per-dimension
    [min, max] trained on the corpus, and every vector reports its
    reconstruction error — the go-before-you-commit readout for 8x
    embedding compression (mse ~ quantization step² / 12 when the
    codec fits; a blown dimension shows up as max_err >> step).

    Shape: per-dimension min/max via ONE exploded (dim) groupBy (d
    bounded cells to the driver, the centroid-pull pattern), then a
    single map-side pass — codes, reconstruction, and error fold are
    JVM higher-order functions over broadcast literal arrays; zero
    shuffles beyond the bounded stats pull.

    Deterministic: min/max are exact (no accumulation); quantization
    uses floor(z + 0.5) (identical IEEE ops in any engine, no
    rounding-convention dependence); constant dimensions (max == min)
    pin code 0 and reconstruct exactly. Full SQL oracle; mse/max_err
    rounded @`round_to` (far above FMA-contraction noise).
    Returns (id, mse, max_err)."""
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    head = vecs.select("__v").first()
    if head is None:
        id_type = corpus.schema[id_col].dataType.simpleString()
        return corpus.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, mse double, max_err double"
        )
    d = len(head["__v"])
    vecs = vecs.filter(F.size("__v") == d)
    stats = (
        vecs.select(F.posexplode("__v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    lo = [0.0] * d
    scale = [0.0] * d
    for r in stats:
        lo[r["dim"]] = r["lo"]
        scale[r["dim"]] = (r["hi"] - r["lo"]) / 255.0
    lo_lit = F.array(*[F.lit(x) for x in lo])
    sc_lit = F.array(*[F.lit(x) for x in scale])
    idx = F.sequence(F.lit(1), F.lit(d))

    def err_at(j):
        x = F.element_at(F.col("__v"), j)
        lo_j = F.element_at(lo_lit, j)
        sc_j = F.element_at(sc_lit, j)
        code = F.when(
            sc_j == 0.0, F.lit(0.0)
        ).otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(F.lit(0.0), F.floor((x - lo_j) / sc_j + 0.5)),
            )
        )
        return x - (lo_j + code * sc_j)

    errs = F.transform(idx, err_at)
    mse = (
        F.aggregate(errs, F.lit(0.0), lambda a, e: a + e * e)
        / F.lit(float(d))
    )
    return vecs.select(
        id_col,
        F.round(mse, round_to).alias("mse"),
        F.round(
            F.array_max(F.transform(errs, lambda e: F.abs(e))), round_to
        ).alias("max_err"),
    )


def embedding_outliers(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 3.5,
) -> DataFrame:
    """Broken-embedding detection: vectors whose L2 norm is a robust
    outlier (modified z-score vs the corpus median/MAD — the
    timeseries.anomaly_mad recipe applied to embedding space). Catches
    the classic failure modes of an embedding job — zero vectors,
    overflow blowups, un-normalized batches — before they poison ANN
    or clustering. Norms are exact per-row JVM folds; the two exact
    medians share one global window pass. Returns every vector's
    (id, norm, median, mad, mod_zscore, is_outlier).

    Degenerate corpus (MAD == 0, i.e. >=50% of norms identical — e.g.
    a mostly unit-normalized corpus): the modified z-score is
    undefined, so mod_zscore is NULL and is_outlier falls back to a
    secondary rule — flag any norm that differs from the median at
    all (which on such a corpus includes zero vectors and overflow
    blowups, the failure modes this operator exists to catch)."""
    from pyspark.sql import Window

    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    staged = corpus.select(F.col(id_col), norm.alias("norm"))
    wall = Window.partitionBy()
    med = F.expr("percentile(norm, 0.5)").over(wall)
    m1 = staged.select(id_col, "norm", med.alias("__med"))
    mad = F.expr("percentile(abs(norm - __med), 0.5)").over(wall)
    m2 = m1.select(id_col, "norm", "__med", mad.alias("__mad"))
    z = F.when(
        F.col("__mad") > 0,
        F.lit(0.6745) * (F.col("norm") - F.col("__med")) / F.col("__mad"),
    )
    return m2.select(
        id_col,
        F.round("norm", 6).alias("norm"),
        F.round("__med", 6).alias("median"),
        F.round("__mad", 6).alias("mad"),
        F.round(z, 6).alias("mod_zscore"),
        F.when(F.col("__mad") > 0, F.abs(z) > threshold)
        .otherwise(F.col("norm") != F.col("__med"))
        .alias("is_outlier"),
    )


def embedding_coherence(
    corpus: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Intra-class coherence of an embedding space: each vector's
    cosine similarity to its OWN label's centroid — the quality gauge
    for labeled embedding corpora (low own-centroid similarity =
    mislabeled or off-manifold points; a label whose members all
    score low = an incoherent class). The audit that runs before
    trusting labels for supervised fine-tuning.

    Shape: centroids via ONE exploded (label, dim) groupBy with
    decimal-exact component means (the kmeans update shape — shuffles
    k*d cells, not vectors), reassembled per label and joined back on
    the narrow label key (broadcast: k rows). Cosine is a sequential
    JVM fold, order-mirrored in the oracle via list_reduce. Returns
    (id, label, cos_to_centroid)."""
    vecs = corpus.select(
        F.col(id_col), F.col(label_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    cells = vecs.select(
        label_col, F.posexplode("__v").alias("dim", "x")
    )
    comp = cells.groupBy(label_col, "dim").agg(
        (
            F.round(F.sum(F.col("x").cast("decimal(38,12)")), 8).cast("double")
            / F.count("x")
        ).alias("m")
    )
    cents = comp.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("__c")
    )
    joined = vecs.join(F.broadcast(cents), label_col)
    return joined.select(
        id_col, label_col,
        F.round(_guarded_cosine("__v", "__c"), 6).alias("cos_to_centroid"),
    )


def dim_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension health statistics of an embedding corpus —
    count, mean, std, min, max for every vector component. The
    standard embedding-pipeline audit: a dead dimension (std ~ 0)
    means a collapsed encoder feature, a blown-up mean/max means a
    normalization bug upstream, and comparing two corpora's
    per-dimension means is the cheapest embedding-drift monitor
    (complements the corpus-level [[embedding_outliers]] norm check
    and the covariance-level pca_moments pass).

    Shape: posexplode -> ONE (dim,) groupBy with map-side partial
    aggregation — shuffle volume is partitions x d cells, never
    corpus-sized; no joins, no driver work. Deterministic: sum(x)
    and sum(x*x) accumulate in decimal(38,12) (partition-order
    independent) and round @6 BEFORE the double mean/variance
    arithmetic, so both engines run identical IEEE ops from
    identical inputs. Ragged short rows simply don't contribute to
    the dims they lack (count is per-dimension). Returns
    (dim, n, mean, std, vmin, vmax)."""
    e = corpus.select(
        F.posexplode(F.col(vec_col)).alias("__dim", "__x0")
    ).select("__dim", F.col("__x0").cast("double").alias("__x"))
    agg = e.groupBy("__dim").agg(
        F.count("__x").alias("n"),
        F.round(F.sum(F.col("__x").cast("decimal(38,12)")), round_to)
        .cast("double").alias("__s1"),
        F.round(
            F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,12)")),
            round_to,
        ).cast("double").alias("__s2"),
        F.min("__x").alias("vmin"),
        F.max("__x").alias("vmax"),
    )
    mean = F.col("__s1") / F.col("n")
    var = F.greatest(
        F.col("__s2") / F.col("n") - mean * mean, F.lit(0.0)
    )
    return agg.select(
        F.col("__dim").alias("dim"),
        "n",
        F.round(mean, round_to).alias("mean"),
        F.round(F.sqrt(var), round_to).alias("std"),
        "vmin",
        "vmax",
    )


def recall_eval(
    truth: DataFrame,
    candidates: dict[str, DataFrame],
    k: int = 5,
) -> DataFrame:
    """ANN index quality evaluation: recall@k of each approximate
    index against the exact brute-force ground truth — the audit that
    decides whether an index's speed is worth its misses before a
    100 TB retrieval pipeline is pointed at it.

    Inputs are (query_id, vec_id, rank) result tables (the
    cosine_topk / lsh_ann / ivf_ann shape). recall@k = total true
    neighbors found / total true neighbors — exact integer hit
    counts, one double division at the end; min_query_recall flags
    the worst single query the same way. The ground truth is
    localCheckpoint-ed once (the brute-force pass runs once, not once
    per index) and each index joins it on (query_id, vec_id), so the
    evaluation is O(|queries| * k) per method; queries an index
    missed entirely count as full misses via the left join.
    Returns (method, n_queries, n_true, n_hits, recall_at_k,
    min_query_recall)."""
    t = (
        truth.filter(F.col("rank") <= k)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    per_q_true = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    outs = []
    for method in sorted(candidates):
        c = (
            candidates[method]
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id")
        )
        hits = (
            t.join(c, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        pq = per_q_true.join(hits, "query_id", "left").select(
            "n_true", F.coalesce("n_hit", F.lit(0)).alias("n_hit")
        )
        row = pq.agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum("n_true").cast("long").alias("n_true"),
            F.sum("n_hit").cast("long").alias("n_hits"),
            F.round(
                F.min(F.col("n_hit").cast("double") / F.col("n_true")), 6
            ).alias("min_query_recall"),
        )
        outs.append(
            row.select(
                F.lit(method).alias("method"),
                "n_queries",
                "n_true",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / F.col("n_true"), 6
                ).alias("recall_at_k"),
                "min_query_recall",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("method")


def knn_classify(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Leave-one-out kNN label audit: predict each probe vector's
    label by the majority vote of its k exact cosine neighbors
    (self excluded) and report per-label accuracy — the
    separability/mislabel readout run before anyone trusts `label`
    for training or cluster-scoped dedup. Low accuracy for one label
    = that class is not separable in embedding space (or mislabeled).

    The probe set is the first `n_queries` ids — FIXED, so the exact
    brute-force pass stays |probes| x corpus at any scale (the
    ann_bruteforce boundary); votes tie-break on the smallest label.
    The neighbors come from the Arrow pair grid (_cosine_topk_arrow),
    so `dim` acts as the clean-width vector pre-filter (size(vec) =
    dim). Returns (label, n_queries, n_correct, accuracy)."""
    probes = embeddings.filter(F.col(id_col) < n_queries)
    # the |probes| here is 60x the retrieval audits' (500 vs 8), so
    # this is the suite's one LARGE brute-force pair grid — the
    # Arrow pair grid (bit-identical; _cosine_pairs_arrow) scores it in
    # numpy instead of paying the interpreted HOF fold per pair:
    # 8.4 s cold / 3.3 s warm -> ~1.2 s at sf0.1 (guide §4.2)
    nb = _cosine_topk_arrow(
        embeddings, probes, k=k, id_col=id_col, vec_col=vec_col, dim=dim,
    )
    nb_lab = nb.join(
        embeddings.select(F.col(id_col), F.col(label_col).alias("__nl")),
        id_col,
    )
    votes = nb_lab.groupBy("query_id", "__nl").agg(
        F.count(F.lit(1)).alias("__c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("__nl").asc()
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("__nl").alias("__pred"))
    )
    truth = probes.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__true")
    )
    scored = truth.join(pred, "query_id")
    out = scored.groupBy(F.col("__true").alias(label_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("__pred") == F.col("__true"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    return out.select(
        label_col, "n_queries", "n_correct",
        F.round(
            F.col("n_correct").cast("double")
            / F.col("n_queries").cast("double"),
            6,
        ).alias("accuracy"),
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Cosine RANGE query: every corpus vector within `threshold`
    similarity of each query (self-matches excluded) — the faiss
    range_search shape, for "find everything this similar" tasks
    (dedup candidate pull, policy screening) where top-k's fixed
    cutoff is wrong. The threshold applies to the ROUNDED score, so
    the boundary is reproducible across engines and partitionings.
    Same broadcast-queries x corpus scan as [[ann_bruteforce]];
    at scale, bound the probe set (|Q| x corpus work) or route
    through [[ann_lsh]] buckets first. Returns (query_id, id,
    cos_sim)."""
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    c, q, sim = _hof_cosine(c, q)
    return (
        c.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(sim, round_to).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )


def centroid_drift(
    corpus: DataFrame,
    snap_col: str = "snap",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots
    (snap 0 vs snap 1): cosine similarity and L2 shift of each
    label's mean vector — the embedding-space drift monitor that
    catches encoder version skew / distribution shift per class
    before it poisons retrieval or training ([[embedding_dim_stats]]
    watches dimensions; this watches CLASSES).

    Shape: one exploded (label, snap, dim) groupBy with decimal-exact
    component means (the kmeans/coherence cell shape), reassembled
    per (label, snap), then a single-branch conditional pivot
    groupBy(label) — no self-join, no re-executed subtree. Cosine
    and L2 are sequential JVM folds, order-mirrored in the oracle via
    list_reduce. Returns (label, n_a, n_b, cos_centroid, l2_shift);
    labels missing either snapshot are omitted."""
    vecs = corpus.select(
        F.col(label_col), F.col(snap_col).alias("__snap"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    cells = vecs.select(
        label_col, "__snap", F.posexplode("__v").alias("dim", "x")
    )
    comp = cells.groupBy(label_col, "__snap", "dim").agg(
        (
            F.round(F.sum(F.col("x").cast("decimal(38,12)")), 8).cast("double")
            / F.count("x")
        ).alias("m"),
    )
    cents = comp.groupBy(label_col, "__snap").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("__c"),
    )
    counts = vecs.groupBy(label_col, "__snap").agg(
        F.count(F.lit(1)).alias("__n")
    )
    both = cents.join(counts, [label_col, "__snap"])
    piv = both.groupBy(label_col).agg(
        F.max(F.when(F.col("__snap") == 0, F.col("__c"))).alias("__a"),
        F.max(F.when(F.col("__snap") == 1, F.col("__c"))).alias("__b"),
        F.max(F.when(F.col("__snap") == 0, F.col("__n"))).alias("n_a"),
        F.max(F.when(F.col("__snap") == 1, F.col("__n"))).alias("n_b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    return piv.select(
        label_col, "n_a", "n_b",
        F.round(_guarded_cosine("__a", "__b"), 6).alias("cos_centroid"),
        F.round(F.expr(f"SQRT({_l2sq_sql('__a', '__b')})"), 6)
        .alias("l2_shift"),
    )


def dup_audit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-duplicate-vector audit: how many embeddings are
    bit-identical at 1e-6 quantization — the data-bug tripwire for
    encoder pipelines (a burst of identical vectors means a stuck
    encoder, a default-value fill, or an upstream join fan-out; any
    of them silently poisons [[ann_bruteforce]] neighbors and
    [[cluster_kmeans]] centroids).

    The dedup key is md5 over the integer-quantized components
    (floor(x*1e6 + 0.5) as int64 strings — identical text in any
    engine; no float formatting involved). One map-side-combined
    groupBy on the hash; the summary is one aggregate row:
    (n_vectors, n_distinct, n_dup_groups, n_dup_vectors,
    max_group_size)."""
    key = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.floor(x * 1e6 + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
        )
    )
    g = corpus.select(key.alias("__k")).groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return g.agg(
        F.sum("__n").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("__n") > 1, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("n_dup_vectors"),
        F.max("__n").alias("max_group_size"),
    )


def intrinsic_dim(
    corpus: DataFrame,
    n_probes: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017,
    Scientific Reports 7:12140): ID = n / sum(ln(d2/d1)) over each
    probe's two nearest neighbors — the "how many dimensions does
    this manifold REALLY use" audit (an embedding space whose 64
    columns carry ~8 intrinsic dimensions compresses well and
    clusters meaningfully; ID near the ambient dimension = noise).

    Probes are the first `n_probes` ids (deterministic); distances
    are euclidean via the JVM fold, ROUNDED @9 before the ratio so
    both engines rank and divide identical values (ties keep the
    smaller neighbor id; d1 = 0 duplicates are excluded from the sum
    — documented). Work is |probes| x corpus, the knn_classify
    contract. Returns one row: (n_probes_used, mean_ln_ratio,
    intrinsic_dim)."""
    q = broadcast(
        corpus.filter(F.col(id_col) < n_probes).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    dist = F.round(
        F.expr(
            _l2_sql("__qv", "__cv", dim)
            if dim
            else f"SQRT({_l2sq_sql('__qv', '__cv')})"
        ),
        9,
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, dist.alias("d"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("d", id_col)
    two = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    pair = two.groupBy("query_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("d"))).alias("d1"),
        F.max(F.when(F.col("rk") == 2, F.col("d"))).alias("d2"),
    ).filter(F.col("d1") > 0)
    term = F.round(F.log(F.col("d2") / F.col("d1")), 8).cast(
        "decimal(30,8)"
    )
    agg = pair.select(term.alias("__t")).agg(
        F.count(F.lit(1)).alias("n_probes_used"),
        F.sum("__t").alias("__s"),
    )
    return agg.select(
        "n_probes_used",
        F.round(
            F.col("__s").cast("double") / F.col("n_probes_used"), 6
        ).alias("mean_ln_ratio"),
        F.round(
            F.try_divide(
                F.col("n_probes_used").cast("double"),
                F.col("__s").cast("double"),
            ),
            6,
        ).alias("intrinsic_dim"),
    )


def truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation audit: recall@k of cosine search
    over only the FIRST d dimensions, per d, against the full-width
    ground truth — the measurement behind the "store 32 dims, not
    768" storage/latency decision (MRL-trained embeddings
    front-load information; this verifies whether YOUR vectors do
    before a 100 TB index is built at the wrong width).

    Pure composition: [[ann_bruteforce]]'s exact top-k at full width
    and per-d sliced variants, scored by [[ann_recall_eval]]'s exact
    integer hit counting (truth served from the session [[topk_truth]]
    catalog — one brute-force pass across the whole audit suite).
    Cosine needs no re-normalization after slicing — it normalizes
    inside. Returns (method='dim<d>', n_queries, n_true, n_hits,
    recall_at_k, min_query_recall)."""
    truth = topk_truth(corpus, queries, k, id_col, vec_col)
    cands = {}
    for d in dims:
        c = corpus.select(
            id_col, F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        q = queries.select(
            id_col, F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        cands[f"dim{d}"] = cosine_topk(c, q, k, id_col, vec_col)
    return recall_eval(truth, cands, k)


def bq_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization audit: recall@k of 1-bit-per-dimension
    search (bit d set when v_d exceeds the corpus's dimension-d mean,
    packed into ONE int64; candidates ranked by Hamming distance)
    against exact cosine truth — the measurement behind the 32x
    memory-compression switch modern vector stores offer (BQ is only
    safe when the corpus front-loads sign information; this checks
    YOURS before the index is built).

    Scale shape: a 1-row per-dim decimal mean broadcast, the bit-pack
    folded into the scan (64 codegen'd comparisons, no Python), then
    the scan compares ONE long per row — xor + bit_count, the whole
    point of BQ. Ties rank on (hamming, id) both engines. Scored by
    [[ann_recall_eval]]'s exact integer hit counts. Returns
    (method='bq<dim>', n_queries, n_true, n_hits, recall_at_k,
    min_query_recall)."""
    ranked = _bq_ranked(corpus, queries, dim, id_col, vec_col).filter(
        F.col("rank") <= k
    )
    truth = topk_truth(corpus, queries, k, id_col, vec_col)
    return recall_eval(truth, {f"bq{dim}": ranked}, k)


def _bq_ranked(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    kmax: int = 64,
) -> DataFrame:
    """Hamming-ranked BQ candidates memoized to the top `kmax` per
    query: [[embedding_bq_recall]] (k=5) and [[ann_two_stage]]
    (shortlist=20 + k=5) read the SAME persisted table instead of
    re-running the bit-pack scan each. row_number over (__ham, id) is
    deterministic, so any filter rank <= j (j <= kmax) is bitwise the
    j-ranking."""
    cand = _bq_candidates(corpus, queries, dim, id_col, vec_col)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("__ham"), F.col(id_col)
    )
    return memo(
        cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= kmax
        ),
        tag="bq_ranked",
    )


def _bq_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The shared BQ candidate pipeline (per-dim mean broadcast ->
    sign-bit pack into one int64 -> Hamming scan): returns
    (query_id, id_col, __ham). Factored so [[embedding_bq_recall]]
    and [[ann_two_stage]] measure the IDENTICAL shortlist — the dim
    guard lives here so BOTH callers reject unpackable widths."""
    if not 1 <= dim <= 64:
        raise ValueError(
            f"binary quantization packs one sign bit per dimension into"
            f" a single int64, so dim must be in [1, 64]; got {dim}. For"
            f" wider vectors, slice (Matryoshka-style, like embedding_"
            f"trunc_recall) or pack multiple words."
        )
    e = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    means = e.agg(
        *[
            F.expr(
                f"CAST(round(sum(CAST(__v[{i}] AS DECIMAL(30,8))), 6)"
                f" AS DOUBLE) / count(1)"
            ).alias(f"__m{i}")
            for i in range(dim)
        ]
    )

    def sig_col():
        # bit 63's two's-complement weight is the min-long literal —
        # shifts of 1<<63 overflow-check on the oracle side, literals
        # don't on either engine; BIGINT('<str>') sidesteps the
        # parser's unary-minus-on-max-long edge. One SQL string (the
        # lsh_signature build-cost rule).
        parts = ["CAST(0 AS BIGINT)"]
        for i in range(dim):
            weight = 2 ** i if i < 63 else -(2 ** 63)
            parts.append(
                f"(CASE WHEN __v[{i}] > __m{i}"
                f" THEN CAST('{weight}' AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr(" + ".join(parts))

    cb = e.crossJoin(F.broadcast(means)).select(
        F.col(id_col), sig_col().alias("__sig")
    )
    qb = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .crossJoin(F.broadcast(means))
        .select(F.col("query_id"), sig_col().alias("__qsig"))
    )
    return (
        cb.crossJoin(F.broadcast(qb))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.bit_count(
                F.col("__sig").bitwiseXOR(F.col("__qsig"))
            ).alias("__ham"),
        )
    )


def two_stage_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval audit — THE production vector-search
    architecture (a cheap quantized index proposes, exact distances on
    the shortlist dispose): binary-quantization Hamming shortlist of
    size `shortlist`, exact cosine rerank to k, recall of BOTH stages
    against brute-force truth side by side. The gap between the rows
    is what the rerank buys; the gap to 1.0 is what a bigger
    shortlist would buy — the two knobs a deployment actually tunes.

    Scale shape: stage 1 is the bq_recall scan (ONE long per row, the
    |queries|-bounded broadcast); stage 2 re-scores only
    |queries| x shortlist rows — the corpus re-join is id-keyed and
    AQE-broadcast, never a second full scan; truth is the documented
    |probes| x corpus exact baseline. Returns two method rows from
    [[ann_recall_eval]]'s exact integer hit counts."""
    if shortlist < k:
        raise ValueError(
            f"shortlist ({shortlist}) must be >= k ({k}): the rerank"
            " can only return what the shortlist proposes"
        )
    staged = _bq_ranked(
        corpus, queries, dim, id_col, vec_col,
        kmax=max(64, int(shortlist)),
    )
    from pyspark.sql import Window

    bq_k = staged.filter(F.col("rank") <= k)
    short = staged.filter(F.col("rank") <= shortlist).select(
        "query_id", id_col
    )
    cv = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    rescored = (
        short.join(cv, id_col)
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(cosine("__qv", "__cv"), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    reranked = rescored.withColumn(
        "rank", F.row_number().over(w2)
    ).filter(F.col("rank") <= k)
    truth = topk_truth(corpus, queries, k, id_col, vec_col)
    return recall_eval(
        truth,
        {f"bq{dim}": bq_k, f"bq{dim}_rerank{shortlist}": reranked},
        k,
    )


def recall_curve(
    truth: DataFrame,
    candidates: DataFrame,
    ks: list[int] | None = None,
    method: str = "index",
) -> DataFrame:
    """Recall@k CURVE for one approximate index: recall at every cut
    in `ks` from a single pass — [[ann_recall_eval]] scores one k;
    the curve says WHERE the index stops earning its keep (a sharp
    knee at k=3 means "use it for top-3, not top-10"). Inputs are
    ranked (query_id, vec_id, rank) tables. One truth-candidates
    equi-join tagged with both ranks, then a |ks|-grid explode of the
    tiny hit table — integer hit counts per cut, one division each.
    Returns (method, k, n_true, n_hits, recall_at_k)."""
    ks = sorted(ks or [1, 3, 5, 10])
    kmax = max(ks)
    # the truth table feeds both the per-cut totals and the hit join;
    # checkpoint the |queries| x kmax rows once (the recall_eval rule)
    # so the brute-force pass doesn't run per branch
    t = truth.filter(F.col("rank") <= kmax).select(
        "query_id", "vec_id", F.col("rank").alias("__tr")
    ).localCheckpoint()
    c = candidates.filter(F.col("rank") <= kmax).select(
        "query_id", "vec_id", F.col("rank").alias("__cr")
    )
    j = t.join(c, ["query_id", "vec_id"])
    grid = F.explode(F.array([F.lit(k) for k in ks])).alias("k")
    truth_counts = t.select(grid, "__tr").filter(
        F.col("__tr") <= F.col("k")
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n_true"))
    hit_counts = j.select(grid, "__tr", "__cr").filter(
        (F.col("__tr") <= F.col("k")) & (F.col("__cr") <= F.col("k"))
    ).groupBy("k").agg(F.count(F.lit(1)).alias("n_hits"))
    out = truth_counts.join(hit_counts, "k", "left").select(
        F.lit(method).alias("method"),
        F.col("k").cast("long").alias("k"),
        F.col("n_true").cast("long").alias("n_true"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_true").cast("double"),
            6,
        ).alias("recall_at_k"),
    )
    return out


def index_agreement(
    results: dict[str, DataFrame],
    k: int = 5,
) -> DataFrame:
    """Pairwise agreement between ANN indexes: mean Jaccard overlap
    of their top-k result sets per query — the audit that says
    whether two cheap indexes are interchangeable or complementary
    ([[ann_recall_eval]] scores each against the exact truth; this
    scores them against EACH OTHER, which needs no brute-force pass).
    Inputs are ranked (query_id, vec_id, rank) tables. One equi-join
    per index pair on (query_id, vec_id); |A u B| = 2k - |A n B| when
    both sides return full k (guarded by per-query counts otherwise).
    All-integer overlap counts; floor-half-up means. Returns
    (index_a, index_b, n_queries, mean_jaccard)."""
    names = sorted(results)
    # each cut feeds two branches (per-query counts + the pair
    # intersection) — checkpoint the |queries| x k rows once so the
    # index pipelines don't re-execute per branch (the recall rule)
    cut = {
        m: results[m]
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id")
        .localCheckpoint()
        for m in names
    }
    outs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            ca = cut[a].groupBy("query_id").agg(
                F.count(F.lit(1)).alias("__na")
            )
            cb = cut[b].groupBy("query_id").agg(
                F.count(F.lit(1)).alias("__nb")
            )
            inter = (
                cut[a].join(cut[b], ["query_id", "vec_id"])
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("__ni"))
            )
            per_q = (
                ca.join(cb, "query_id")
                .join(inter, "query_id", "left")
                .select(
                    F.coalesce(F.col("__ni"), F.lit(0)).alias("__ni"),
                    (F.col("__na") + F.col("__nb")).alias("__nu0"),
                )
            )
            jac = F.col("__ni").cast("double") / (
                F.col("__nu0") - F.col("__ni")
            ).cast("double")
            agg = per_q.agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.sum(F.round(jac, 8).cast("decimal(30,8)")).alias("__s"),
            )
            outs.append(
                agg.select(
                    F.lit(a).alias("index_a"),
                    F.lit(b).alias("index_b"),
                    "n_queries",
                    (
                        F.floor(
                            F.col("__s").cast("double")
                            / F.col("n_queries").cast("double")
                            * F.lit(1000000.0)
                            + F.lit(0.5)
                        )
                        / F.lit(1000000.0)
                    ).alias("mean_jaccard"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-
    point traversal — public classic; the coreset recipe behind
    diversity-driven training-data selection: pick the k points that
    2-approximate the minimal covering radius). Deterministic: seed =
    smallest id, each round adds the point farthest (squared
    Euclidean) from everything selected so far, ties broken on the
    smaller id.

    Spark shape: k-1 rounds, each ONE distributed column update
    (min-so-far distance vs the newest center, a zip_with fold over
    the vector — JVM, no UDF) plus ONE TakeOrdered argmax; the only
    driver traffic is k single-vector pulls (the sanctioned ann_ivf
    centroid-pull shape). Scales as k linear passes over the corpus —
    the textbook distributed farthest-point sweep. The fold orders
    are fixed (squared diffs summed left-to-right, 0-init), so the
    DuckDB oracle replays the full greedy trace bit-for-bit via a
    recursive CTE over the same state.

    Returns k rows: (sel_order, id, sel_d2) — selection rank, the
    chosen id, and its distance-to-selected-set at selection time
    (NULL for the seed; the max sel_d2 is the coverage radius the
    next center would have shaved).

    The finished trace is session-memoized keyed on the INPUT plan
    (+files tag, k, columns) — kcenter_assign re-derives exactly this
    trace (r12 verdict #4: 9.5 s select + 6.2 s assign inline, the
    assign half repeating the select's k greedy rounds), so the
    second caller gets the k-row table back and pays only its own
    broadcast-fold scan. The memoized frame is a LocalRelation (k
    driver rows) — nothing to persist, the LRU entry just carries
    it."""
    spark = df.sparkSession
    id_type_early = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("sel_order", T.LongType(), False),
            T.StructField(id_col, id_type_early, True),
            T.StructField("sel_d2", T.DoubleType(), True),
        ]
    )
    slot = Slot(f"kcenter:{k}:{id_col}:{vec_col}", df)
    hit = slot.get(lambda cached: cached.schema == out_schema)
    if hit is not None:
        return hit
    v = df.select(
        F.col(id_col).alias("__id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__vec"),
    )
    v = v.localCheckpoint(eager=False)  # k passes read it; score once

    def d2_to(center_vals):
        return F.expr(_l2sq_sql("__vec", _flit_array(center_vals)))

    seed = v.orderBy("__id").limit(1).collect()[0]
    picked = [(0, seed["__id"], None)]
    cur = v.withColumn("__mind", d2_to(seed["__vec"])).filter(
        F.col("__id") != seed["__id"]
    )
    for r in range(1, k):
        rows = (
            cur.orderBy(F.col("__mind").desc(), F.col("__id")).limit(1).collect()
        )
        if not rows:
            break
        nxt = rows[0]
        picked.append((r, nxt["__id"], float(nxt["__mind"])))
        if r < k - 1:
            cur = (
                cur.filter(F.col("__id") != nxt["__id"])
                .withColumn(
                    "__mind",
                    F.least(F.col("__mind"), d2_to(nxt["__vec"])),
                )
                .localCheckpoint(eager=False)  # cap plan growth at k rounds
            )
    # out_schema derives the id field's type from the input (string /
    # int / long ids all round-trip; a hardcoded `long` broke
    # non-long id columns)
    out = spark.createDataFrame(
        [(o, i, d) for o, i, d in picked], out_schema
    ).withColumn("sel_d2", F.round("sel_d2", 6))
    if slot.key is not None:
        # collapse to a LocalRelation NOW (k rows) so the memoized
        # frame is detached from the greedy plan and its checkpoints,
        # and so the schema matches out_schema exactly on lookup
        out = spark.createDataFrame(out.collect(), out_schema)
    return slot.put(out, persist=False)


def kcenter_assign(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coverage report for the [[kcenter_select]] coreset: every
    vector assigned to its nearest selected center (ties -> the
    earlier-selected center), rolled up per center — how much of the
    corpus each coreset point represents and how far its farthest
    constituent sits (max_d2 over all centers = the covering radius
    the k-center objective minimizes).

    Spark shape: the k selected centers join back to their vectors
    (k-row broadcast), collapse to ONE ordered array-of-structs row,
    and assignment is a JVM fold over that k-array per vector — no
    shuffle beyond the final k-row groupBy. mean_d2 decimal-quantizes
    per-term @8 pre-sum (order-independent), max_d2 is exact.

    Returns one row per center: (sel_order, center_id, n_assigned,
    mean_d2, max_d2)."""
    sel = kcenter_select(df, k, id_col, vec_col)
    v = df.select(
        F.col(id_col).alias("__id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__vec"),
    )
    centers = (
        sel.join(v, sel[id_col] == v["__id"])
        .select("sel_order", F.col("__id").alias("__cid"), "__vec")
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sel_order", "__cid", "__vec"))
            ).alias("__cs")
        )
    )
    scored = v.crossJoin(F.broadcast(centers))  # 1-row broadcast
    # materialize each center's distance ONCE (HOFs evaluate
    # interpreted, so a d2 repeated in the when() predicate AND the
    # replacement struct doubles the dominant per-vector cost — the
    # matrix_profile candidates-then-fold shape), then min-fold;
    # strict < keeps the earliest-selected center on ties because
    # __cs is sorted by sel_order
    cands = F.expr(
        "transform(__cs, c -> named_struct("
        f"'d', {_l2sq_sql('__vec', 'c.__vec')},"
        " 'o', c.sel_order, 'cid', c.__cid))"
    )
    # init cid is a typed NULL (matches the id column's type — a
    # hardcoded long init forced a cast of string center ids); it
    # never survives the fold since every real d2 < 1e308
    best = F.aggregate(
        cands,
        F.struct(
            F.lit(1e308).alias("d"),
            F.lit(-1).cast("long").alias("o"),
            F.lit(None).cast(df.schema[id_col].dataType).alias("cid"),
        ),
        lambda acc, c: F.when(c["d"] < acc["d"], c).otherwise(acc),
    )
    a = scored.select("__id", best.alias("__b"))
    return (
        a.groupBy(
            F.col("__b.o").alias("sel_order"),
            F.col("__b.cid").alias("center_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            (
                F.round(
                    F.sum(
                        F.round(F.col("__b.d"), 8).cast("decimal(30,8)")
                    ),
                    6,
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_d2"),
            F.round(F.max("__b.d"), 6).alias("max_d2"),
        )
    )


def silhouette(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_labels: int = 1024,
) -> DataFrame:
    """Simplified (centroid) silhouette per label class (Rousseeuw
    1987 simplified to centroid distances — the standard large-scale
    variant, since the exact pairwise form is O(n²)): for each vector,
    a = distance to its OWN class centroid, b = distance to the
    NEAREST other centroid, s = (b - a) / max(a, b). Per-class means
    answer "is this labeling / clustering geometrically coherent, and
    which class bleeds into its neighbors" — the label-quality audit
    next to [[embedding_cluster_purity]].

    Spark shape: centroids are one exploded (label, dim) decimal-mean
    aggregation collapsed to a k-row broadcast array (the
    kcenter_assign shape); per-vector distances materialize ONCE via
    transform-then-fold (each centroid's d2 evaluated a single time —
    the r9 double-eval lesson), bound to a column so own/other reads
    share the same evaluation. Fails loudly past `max_labels` (the
    broadcast row is k·dim doubles). Returns one row per label:
    (label, n_vectors, mean_a, mean_b, mean_silhouette)."""
    v = df.select(
        F.col(label_col).alias("__lb"),
        F.col(id_col).alias("__id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__vec"),
    )
    per_dim = (
        v.select("__lb", F.posexplode("__vec").alias("__d", "__x"))
        .groupBy("__lb", "__d")
        .agg(
            (
                F.round(F.sum(F.col("__x").cast("decimal(30,8)")), 8)
                .cast("double")
                / F.count(F.lit(1))
            ).alias("__c")
        )
    )
    cvecs = (
        per_dim.groupBy("__lb")
        .agg(
            F.array_sort(F.collect_list(F.struct("__d", "__c"))).alias("__s")
        )
        .select(
            "__lb", F.transform("__s", lambda s: s["__c"]).alias("__cvec")
        )
    )
    k = cvecs.limit(max_labels + 1).count()
    if k > max_labels:
        raise ValueError(
            f"silhouette: more than {max_labels} labels — the centroid "
            "broadcast is k*dim doubles; reduce classes or raise "
            "max_labels explicitly."
        )
    centers = cvecs.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("__lb", "__cvec"))).alias("__cs")
    )
    scored = v.crossJoin(broadcast(centers))  # 1-row broadcast
    # one d2 per centroid, bound to a column so the own-class pick and
    # the nearest-other fold read the SAME evaluation
    scored = scored.withColumn(
        "__cands",
        F.expr(
            "transform(__cs, c -> named_struct("
            f"'d', {_l2sq_sql('__vec', 'c.__cvec')}, 'lb', c.__lb))"
        ),
    )
    own = F.element_at(
        F.filter("__cands", lambda c: c["lb"] == F.col("__lb")), 1
    )["d"]
    other = F.aggregate(
        F.filter("__cands", lambda c: c["lb"] != F.col("__lb")),
        F.lit(1e308),
        lambda acc, c: F.when(c["d"] < acc, c["d"]).otherwise(acc),
    )
    a = F.sqrt(F.col("__own"))
    b = F.sqrt(F.col("__oth"))
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    rows = scored.select(
        "__lb", own.alias("__own"), other.alias("__oth")
    ).select("__lb", a.alias("__a"), b.alias("__b"), s.alias("__s"))

    def dmean(col):
        return (
            F.round(F.sum(F.round(F.col(col), 8).cast("decimal(30,8)")), 8)
            .cast("double")
            / F.count(F.lit(1))
        )

    return rows.groupBy(F.col("__lb").alias(label_col)).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(dmean("__a"), 6).alias("mean_a"),
        F.round(dmean("__b"), 6).alias("mean_b"),
        F.round(dmean("__s"), 6).alias("mean_silhouette"),
    )


def mmd_linear(
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Unbiased linear-kernel MMD^2 between every pair of label
    groups (Gretton et al. 2012, the two-sample test for
    distributions): MMD^2 = E<x,x'> + E<y,y'> - 2 E<x,y> over
    within/cross pairs — with the LINEAR kernel every pairwise term
    collapses onto group sum-vectors (sum_{i!=j}<x_i,x_j> =
    ||S||^2 - sum||x_i||^2), so the O(n^2) pair sums become ONE
    map-side pass over cells plus k^2 d dim-aligned products. That
    algebraic collapse IS the scale story: the test that's quadratic
    in every textbook runs here as a linear scan at any corpus size.
    Linear-kernel MMD^2 equals the squared centroid distance (with
    the unbiased small-sample correction) — the sharpest cheap
    answer to 'did the embedding distribution move between
    groups/snapshots', complementing [[embedding_dim_stats]]
    (per-dim drift) with a single calibrated number per pair.

    Deterministic: per-(label, dim) sums in decimal(38,12) (the
    dim_stats convention), @6-rounded before the double products,
    product terms re-quantized @6. Returns one row per unordered
    label pair: (label_a, label_b, n_a, n_b, mmd2)."""
    cells = corpus.select(
        F.col(label_col).alias("__l"),
        F.posexplode(F.col(vec_col)).alias("__dim", "__x0"),
    ).select("__l", "__dim", F.col("__x0").cast("double").alias("__x"))
    per_ld = cells.groupBy("__l", "__dim").agg(
        F.round(F.sum(F.col("__x").cast("decimal(38,12)")), 6)
        .cast("double").alias("__s"),
        F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,12)"))
        .alias("__qd"),
    )
    per_l = per_ld.groupBy("__l").agg(
        F.round(
            F.sum(F.round(F.col("__s") * F.col("__s"), 6)
                  .cast("decimal(30,6)")), 6,
        ).cast("double").alias("__snorm2"),
        F.round(F.sum("__qd"), 6).cast("double").alias("__ssq"),
    )
    counts = corpus.groupBy(F.col(label_col).alias("__l")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    lab = per_l.join(counts, "__l")
    a = per_ld.select(F.col("__l").alias("__la"), "__dim",
                      F.col("__s").alias("__sa"))
    b = per_ld.select(F.col("__l").alias("__lb"), "__dim",
                      F.col("__s").alias("__sb"))
    cross = (
        a.join(b, "__dim")
        .filter(F.col("__la") < F.col("__lb"))
        .groupBy("__la", "__lb")
        .agg(
            F.round(
                F.sum(F.round(F.col("__sa") * F.col("__sb"), 6)
                      .cast("decimal(30,6)")), 6,
            ).cast("double").alias("__cab")
        )
    )
    la = lab.select(F.col("__l").alias("__la"),
                    F.col("__snorm2").alias("__n2a"),
                    F.col("__ssq").alias("__qa"),
                    F.col("__n").alias("n_a"))
    lb = lab.select(F.col("__l").alias("__lb"),
                    F.col("__snorm2").alias("__n2b"),
                    F.col("__ssq").alias("__qb"),
                    F.col("__n").alias("n_b"))
    joined = cross.join(F.broadcast(la), "__la") \
                  .join(F.broadcast(lb), "__lb")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    term_a = F.try_divide(
        F.col("__n2a") - F.col("__qa"), na * (na - F.lit(1.0))
    )
    term_b = F.try_divide(
        F.col("__n2b") - F.col("__qb"), nb * (nb - F.lit(1.0))
    )
    term_x = F.lit(2.0) * F.try_divide(F.col("__cab"), na * nb)
    return joined.select(
        F.col("__la").alias("label_a"),
        F.col("__lb").alias("label_b"),
        "n_a", "n_b",
        F.round(term_a + term_b - term_x, 6).alias("mmd2"),
    )


def ndcg_eval(
    truth: DataFrame,
    candidates: dict[str, DataFrame],
    k: int = 5,
) -> DataFrame:
    """NDCG@k of each approximate index against the exact brute-force
    ranking (Järvelin & Kekäläinen 2002) — the ORDER-aware companion
    to [[ann_recall_eval]]: recall@k treats 'true neighbor ranked
    1st' and 'ranked 5th' identically, NDCG pays position-discounted
    credit (gain = k+1 - true rank, discount = 1/log2(pos+1)), so an
    index that finds the right set in the wrong order scores below
    one that orders it correctly — exactly what matters when only the
    top result is shown.

    Inputs are (query_id, vec_id, rank) tables, the recall_eval
    shape. Discounts and the ideal DCG are PYTHON-computed literals
    injected into the plan (never each engine's own log), per-query
    DCG terms @8-quantized; queries an index missed entirely score
    0 via the left join. Returns (method, n_queries, mean_ndcg,
    min_ndcg)."""
    import math

    disc = {i: 1.0 / math.log2(i + 1) for i in range(1, k + 1)}
    idcg = sum((k - i + 1) * disc[i] for i in range(1, k + 1))
    t = (
        truth.filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.col("rank").alias("__tr"))
        .localCheckpoint(eager=False)
    )
    queries = t.select("query_id").distinct()
    disc_col = F.col("rank")
    expr = None
    for i in range(1, k + 1):
        cond = F.when(disc_col == i, F.lit(disc[i]))
        expr = cond if expr is None else expr.when(
            disc_col == i, F.lit(disc[i])
        )
    outs = []
    for method in sorted(candidates):
        c = (
            candidates[method]
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank")
        )
        j = c.join(t, ["query_id", "vec_id"], "left")
        rel = F.coalesce(F.lit(k + 1) - F.col("__tr"), F.lit(0))
        term = F.round(rel.cast("double") * expr, 8).cast(
            "decimal(30,8)"
        )
        dcg = j.groupBy("query_id").agg(
            F.round(F.sum(term), 8).cast("double").alias("__dcg")
        )
        perq = queries.join(dcg, "query_id", "left").select(
            (F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.lit(idcg))
            .alias("__ndcg")
        )
        row = perq.agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(
                F.sum(F.round(F.col("__ndcg"), 8).cast("decimal(30,8)")),
                8,
            ).cast("double").alias("__s"),
            F.round(F.min("__ndcg"), 6).alias("min_ndcg"),
        )
        outs.append(
            row.select(
                F.lit(method).alias("method"),
                "n_queries",
                F.round(
                    F.col("__s") / F.col("n_queries").cast("double"), 6
                ).alias("mean_ndcg"),
                "min_ndcg",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("method")
