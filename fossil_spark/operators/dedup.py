"""Deduplication operators for training-data pipelines.

Four tiers, cheapest to most thorough:

1. exact_dedup            — hash-groupBy on normalized text
2. minhash_lsh_pairs      — MinHash signatures + banded LSH join
3. ngram_jaccard_pairs    — exact Jaccard verification of candidates
4. simhash                — near-dup fingerprint (Hamming-comparable)

Scale design: near-dup detection never materializes the O(n²) pair
space — candidates come from equi-joins on (band, band_hash) buckets,
so the shuffle is keyed by bucket and AQE's skew handling splits hot
buckets (e.g. boilerplate shingles). All hashes are md5-based:
deterministic across engines, partitionings, and runs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from fossil_spark.catalog import Slot, memo
from fossil_spark.operators.graph import _symmetric_edges
from fossil_spark.operators.text import shingles


def normalize_text(c: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct normalized text
    with the kept (minimum) id and the duplicate count. One shuffle on
    the 128-bit hash; partial agg map-side."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        df.groupBy(h.alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide exact SUBSTRING dedup at paragraph granularity
    (the ExactSubstr step of Lee et al. 2022 "Deduplicating Training
    Data", at block rather than suffix-array resolution): every
    distinct text unit survives exactly ONCE — in the document where
    it first occurs (global (doc, pos) order) — and later occurrences
    are cut. Complements boilerplate_removal, which deletes ALL
    copies of frequent units; here one canonical copy is kept.

    Units are fixed non-overlapping token blocks (the corpus is
    unstructured single-line text). Shape: posexplode blocks, ONE
    groupBy on md5(unit) taking min(struct(doc, pos)) — a map-side
    partial min, so a whale unit (classic boilerplate skew) reduces
    per-partition before the shuffle — join back on the narrow hash,
    then ONE groupBy on the doc id rebuilding the surviving text in
    original order. No windows over the unit hash: a window would
    funnel each whale unit's rows through a single partition.

    Returns (id, n_units, n_cut, cleaned_text) for every document."""
    from fossil_spark.operators.text import tokens

    w = tokens(F.col(text_col))
    n_blocks = F.greatest(
        F.ceil(F.size(w) / F.lit(block_tokens)).cast("int"), F.lit(1)
    )
    units_arr = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(F.slice(w, i * block_tokens + 1, block_tokens), " "),
    )
    units = df.select(
        F.col(id_col), F.posexplode(units_arr).alias("pos", "unit")
    ).withColumn("__uh", F.md5(F.col("unit")))
    first = units.groupBy("__uh").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first")
    )
    joined = units.join(first, "__uh")
    keep = (F.col("__first")[id_col] == F.col(id_col)) & (
        F.col("__first")["pos"] == F.col("pos")
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_units"),
        F.sum((~keep).cast("long")).alias("n_cut"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct(F.col("pos"), F.col("unit")))
                    )
                ),
                lambda s: s["unit"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def substring_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
) -> DataFrame:
    """ExactSubstr duplicated-span detection at SLIDING-window
    granularity (the shape of Lee et al. 2022's suffix-array pass,
    distributed): every length-W token window is hashed; a window
    whose hash occurs >= 2 times anywhere in the corpus is a
    duplicated span. Per document, overlapping duplicated windows are
    merged with the same marginal-contribution sweep as
    timeseries.interval_coverage, giving the exact number of token
    positions covered by duplicated text — the signal ExactSubstr
    cuts on. Complements paragraph_dedup (non-overlapping blocks,
    keep-first): sliding windows catch duplicates at ANY offset.

    Shape: one posexplode of W-windows, ONE groupBy on md5(window)
    (map-side partial, whale-window skew-safe — deliberately NOT a
    count-over-window, which would funnel a boilerplate window's rows
    through one partition), join back on the narrow hash (AQE
    skew-split supervises hot hashes), then one (doc) window sweep +
    groupBy reusing its partitioning. Integer arithmetic throughout.

    Only documents with >= W tokens have windows; shorter docs are
    omitted (they cannot contain a length-W duplicate). Returns
    (id, n_tokens, n_windows, dup_windows, dup_tokens, dup_frac)."""
    from fossil_spark.operators.text import tokens

    W = window_tokens
    w = tokens(F.col(text_col))
    n = F.size(w)
    # Window hash = polynomial fold of per-token md5-derived 32-bit
    # ints mod a 53-bit prime: each token is md5-hashed ONCE and every
    # window costs O(W) integer ops instead of building + md5-ing the
    # W-token string (measured 3.3x on the dominant projection at
    # sf0.1). Position-sensitive (poly, not xor), deterministic, and
    # reproduced verbatim in the DuckDB oracle; pair-collision odds at
    # 53 bits are ~1e-5 for a billion windows.
    tok_hash = F.transform(
        w, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    # guard: F.sequence(1, n-W+1) runs DESCENDING when n < W, and the
    # projection can be evaluated before the row filter — short docs
    # must produce an empty window list, not a reversed one
    wins = F.when(
        F.col("n_tokens") >= W,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - W + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.aggregate(
                    F.slice(F.col("__th"), i, W),
                    F.lit(0).cast("long"),
                    lambda acc, x: (acc * 131 + x) % 9007199254740881,
                ).alias("wh"),
            ),
        ),
    ).otherwise(F.array())
    # plan shape matters 50x here: explode the window expression
    # INLINE (filter first). Aliasing the array column and exploding
    # it in a later projection makes the optimizer re-inline the whole
    # window-array expression into each downstream struct-field
    # extraction — measured 26 s vs 0.5 s at sf0.1 (PERFORMANCE.md)
    units = (
        df.select(F.col(id_col), n.alias("n_tokens"), tok_hash.alias("__th"))
        .filter(F.col("n_tokens") >= W)
        .select(id_col, "n_tokens", F.explode(wins).alias("__u"))
        .select(id_col, "n_tokens", F.col("__u.pos").alias("pos"),
                F.col("__u.wh").alias("wh"))
    )
    counts = units.groupBy("wh").agg(F.count(F.lit(1)).alias("__cnt"))
    marked = units.join(counts, "wh").withColumn("__dup", F.col("__cnt") >= 2)
    doc_w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    horizon = F.max(
        F.when(F.col("__dup"), F.col("pos") + F.lit(W))
    ).over(doc_w)
    contrib = F.when(
        F.col("__dup"),
        F.greatest(
            F.lit(0),
            F.col("pos") + F.lit(W)
            - F.greatest(F.col("pos"), F.coalesce(horizon, F.col("pos"))),
        ),
    ).otherwise(F.lit(0)).cast("long")
    swept = marked.select(
        id_col, "n_tokens", contrib.alias("__contrib"),
        F.col("__dup").cast("long").alias("__isdup"),
    )
    return swept.groupBy(id_col).agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("__isdup").alias("dup_windows"),
        F.sum("__contrib").alias("dup_tokens"),
        F.round(
            F.sum("__contrib").cast("double")
            / F.max("n_tokens").cast("double"),
            6,
        ).alias("dup_frac"),
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Jaccard ESTIMATE for LSH candidate pairs from signature
    agreement: P[minhash_i(A) = minhash_i(B)] = J(A, B), so the
    fraction of agreeing signature positions is an unbiased estimator
    (Broder 1997) with granularity 1/num_hashes. The cheap
    verification tier between raw LSH candidacy and dedup_ngram's
    exact shingle-join Jaccard: signatures are num_hashes values per
    doc regardless of document length, so the verify join moves O(1)
    per pair, never the shingle sets.

    Shape (r14): the signature vector RIDES THROUGH the band/bucket
    pipeline as a struct member, so the verify tier needs NO join
    back to the matrix — the pair emission already holds both sides'
    signatures. Removes the two verify-side shuffle joins (and the
    matrix checkpoint that existed to feed them: the matrix now has
    ONE consumer); the cost is num_bands copies of the num_hashes
    signature values through the bucket shuffle — O(1) per row, the
    standard banded-LSH verify layout. The riding signatures are
    16-byte binary (unhex of the md5 hex), half the 32-char strings:
    a hot bucket's single collected array value carries every
    member's signature, so this halves its payload. Band hashes still
    hash the hex strings, and unhex is a bijection on md5 hex, so the
    buckets, the pair set and the per-pair agreement count are
    unchanged: rows identical to the joined shape. Returns (doc_a,
    doc_b, n_match, jaccard_est)."""
    sigs = _signature_matrix(df, text_col, id_col, num_hashes, shingle_n)
    mem = F.struct(
        F.col(id_col).alias("id"),
        *[F.unhex(f"__mh{s}").alias(f"s{s}") for s in range(num_hashes)],
    )
    bands = sigs.select(
        mem.alias("m"),
        F.explode(F.array(*_band_structs(num_hashes, rows_per_band))).alias("bb"),
    ).select("m", "bb.band", "bb.band_hash")
    # sort_array on (id, sigs...) structs orders by id first and the
    # signature is a function of the id, so member order — and thus
    # pair emission and the doc_a < doc_b invariant — matches the
    # ids-only bucket shape exactly
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = (
        buckets.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select(
            "a",
            F.explode(
                F.slice(F.col("ms"), F.col("i") + F.lit(2),
                        F.size("ms") - F.col("i") - 1)
            ).alias("b"),
        )
        .distinct()
    )
    n_match = sum(
        (F.col(f"a.s{s}") == F.col(f"b.s{s}")).cast("long")
        for s in range(num_hashes)
    )
    return pairs.select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        n_match.alias("n_match"),
        F.round(
            n_match.cast("double") / F.lit(float(num_hashes)), 6
        ).alias("jaccard_est"),
    )


def cross_corpus_dedup(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus exact decontamination: flag every training doc
    whose normalized text also appears in a held-out corpus (eval/
    benchmark split). The held-out side reduces to distinct 128-bit
    hashes — tiny relative to the training corpus — and broadcasts,
    so the flag is a map-side hash probe: ZERO shuffle of the
    training side. Returns (id, text_hash, in_heldout) for every
    training doc."""
    h = F.md5(normalize_text(F.col(text_col)))
    held_hashes = heldout.select(h.alias("text_hash")).distinct()
    if not heldout.isStreaming:
        from pyspark.sql.functions import broadcast

        held_hashes = broadcast(held_hashes)
    held_hashes = held_hashes.withColumn("__hit", F.lit(True))
    return (
        train.select(F.col(id_col), h.alias("text_hash"))
        .join(held_hashes, "text_hash", "left")
        .select(
            id_col,
            "text_hash",
            F.coalesce(F.col("__hit"), F.lit(False)).alias("in_heldout"),
        )
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # If the source arrives in fewer files than cores (single parquet
    # file, small topic), spread the explode+hash work by id BEFORE
    # fan-out: the hashing parallelizes and the downstream groupBy(id)
    # reuses this partitioning instead of adding a shuffle. At real
    # scale inputs already span >= cores files -> no-op. inputFiles()
    # is a pure catalog lookup — unlike df.rdd.getNumPartitions() it
    # never runs physical planning on the whole lineage.
    # Known limits (accepted trade-off, ADVICE r3): one LARGE splittable
    # file reports n_files=1 and triggers a possibly-redundant
    # repartition (harmless: one extra shuffle of the ids+text cols);
    # in-memory/streaming sources report 0 and skip the spread — their
    # parallelism comes from the upstream plan, not the scan.
    sc = df.sparkSession.sparkContext
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file source (in-memory, stream)
        n_files = 0
    if 0 < n_files < sc.defaultParallelism // 2:
        df = df.repartition(sc.defaultParallelism, F.col(id_col))
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("shingle")
    )


def _signature_matrix(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Columnar MinHash: ONE groupBy over exploded shingles with
    `num_hashes` min-aggregates as columns. Shuffles each shingle row
    once (not once per hash function) — measured ~4× faster than the
    (doc, seed)-exploded shape at sf0.1."""
    sh = _exploded_shingles(df, text_col, id_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"__mh{s}")
        for s in range(num_hashes)
    ]
    # r13: session-memoize the matrix itself. Four operators build the
    # SAME matrix from the same corpus (lsh pairs, jaccard estimate,
    # b-bit audit, unpivoted signatures); the pair-level memo shared
    # only the first one's downstream. Each still pays its own shingle
    # pipeline on a memo miss; on a hit the corpus-scale shuffle runs
    # once per session instead of once per key.
    return memo(
        sh.groupBy(id_col).agg(*aggs),
        tag=f"mh_matrix:{id_col}:{num_hashes}:{shingle_n}:{text_col}",
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: for each of `num_hashes` seeded
    hash functions, the minimum md5(seed || shingle). Returns
    (id, seed, minhash) rows (unpivoted from the columnar matrix)."""
    sigs = _signature_matrix(df, text_col, id_col, num_hashes, shingle_n)
    pairs = F.array(*[
        F.struct(F.lit(s).alias("seed"), F.col(f"__mh{s}").alias("minhash"))
        for s in range(num_hashes)
    ])
    return sigs.select(
        id_col, F.explode(pairs).alias("sm")
    ).select(id_col, "sm.seed", "sm.minhash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_bucket_explode: int = 1024,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.
    Bands hash directly from the columnar signature matrix (no
    per-seed shuffle); pairs come from ONE groupBy on (band,
    band_hash) with an in-bucket combination explode — never an O(n²)
    global pair enumeration, and no self-join (a join would re-execute
    the whole signature pipeline for its second branch; measured 25%
    faster at sf0.1).

    Hot-bucket safety: a degenerate boilerplate bucket of n ids must
    not put n²/2 pair structs into ONE array value (2G row-size limit /
    OOM). Pair emission is therefore two chained explodes for EVERY
    bucket — posexplode to one row per (bucket, position), then a
    slice-explode emitting that member's partners — so the largest
    single value is the O(n) ids array, while the O(n²) pair rows
    stream out of the generator without ever materializing together.
    One scan, one bucket shuffle, no branch. (An earlier two-branch
    variant — flatten-explode for small buckets, posexplode+repartition
    for large — re-executed the whole scan+signature pipeline per
    branch because AQE gave the branches no ReusedExchange; measured
    ~2x wall time. `max_bucket_explode` is kept for API compatibility
    and ignored.) A bucket so hot that even streaming its pairs from
    one task is too slow is non-discriminative by definition — cap it
    upstream by dropping buckets over a size threshold before calling
    this, the standard production LSH practice."""
    sigs = _signature_matrix(df, text_col, id_col, num_hashes, shingle_n)
    pairs = _pairs_from_sigs(sigs, id_col, num_hashes, rows_per_band)
    # Session memo: the near-dup pair graph is the shared substrate of
    # ~15 downstream operators (graph_*, dedup audits, split_leakage,
    # label prop) — each used to re-run the whole shingle+signature+
    # bucket pipeline from the scan.
    return memo(
        pairs,
        tag=f"mh_pairs:{id_col}:{num_hashes}:{rows_per_band}:{shingle_n}",
    )


def _band_structs(num_hashes: int, rows_per_band: int) -> list:
    """The banded LSH bucket keys: per band, md5 over that band's
    signature columns — shared by every bucket consumer so the bucket
    assignment is definitionally identical across operators."""
    n_bands = num_hashes // rows_per_band
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"__mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]


def _lsh_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(band, band_hash, ids) for every bucket holding >= 2 docs, ids
    sorted — the candidate buckets every pair/membership readout
    derives from. One explode + one groupBy over the signature
    matrix."""
    bands = sigs.select(
        id_col,
        F.explode(F.array(*_band_structs(num_hashes, rows_per_band))).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")
    return (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Band -> bucket -> in-bucket pair explosion over an ALREADY
    BUILT signature matrix — split out so callers that also consume
    the signatures directly (minhash_jaccard_estimate) can checkpoint
    the matrix once instead of executing the shingle pipeline twice."""
    buckets = _lsh_buckets(sigs, id_col, num_hashes, rows_per_band)
    # all ordered pairs within each bucket: member i pairs with every
    # member after it (ids sorted, so doc_a < doc_b holds)
    return (
        buckets.select(F.posexplode("ids").alias("i", "doc_a"), "ids")
        .select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2),
                        F.size("ids") - F.col("i") - 1)
            ).alias("doc_b"),
        )
        .distinct()
    )


def lsh_membership(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct ids that appear in at least one banded-LSH candidate
    pair — EXACTLY the id set minhash_lsh_pairs emits (a doc is in a
    pair iff it sits in a bucket of size >= 2), without the O(n²)
    in-bucket pair explosion, the pair distinct, or the iterative
    component labeling. The right substrate for consumers that only
    test MEMBERSHIP (near-dup rates), never pair structure or
    component ids: connected_components materializes the whole pair
    list at plan-build time (and above its driver-path size runs
    O(diameter) join+count rounds as driver actions), which membership
    readouts were paying for a column they reduce to IS NOT NULL
    (r13: pipeline_source_health spent 13.8 of its 15.3 cold seconds
    in the rounds). Returns one `id_col` row per member doc."""
    sigs = _signature_matrix(df, text_col, id_col, num_hashes, shingle_n)
    buckets = _lsh_buckets(sigs, id_col, num_hashes, rows_per_band)
    return buckets.select(F.explode("ids").alias(id_col)).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.
    Each side of a candidate pair joins its per-document DISTINCT
    shingle array (a plain projection — no explode, no groupBy), and
    the intersection is a per-row array_intersect. Two equi-joins on
    doc id, never a cross join; shuffles move one array row per doc
    instead of one row per (doc, shingle)."""
    doc_sh = df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    a = doc_sh.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a"))
    b = doc_sh.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b"))
    n_inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("__n_inter", n_inter)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("__n_inter").cast("double")
                / (F.size("__sh_a") + F.size("__sh_b") - F.col("__n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Asymmetric n-gram containment per candidate pair (Broder 1997's
    containment measure): contain_a = |A∩B| / |A| and the symmetric
    contain_b. Catches doc-inside-doc duplication — a short document
    quoted wholesale inside a long one scores containment ~1.0 where
    Jaccard (|∩|/|∪|) stays low because the union is dominated by the
    long side. The standard companion to near-dup detection when
    curating training data with heavy quotation/aggregation.

    Same scale shape as ngram_jaccard_pairs: per-doc DISTINCT shingle
    arrays join the candidate pairs on doc id (two equi-joins, one
    array row per doc, no explode); intersection is a per-row
    array_intersect. Integer-count / integer-count division — exact
    in any engine, no rounding needed. Keeps pairs where EITHER side
    clears `threshold`."""
    doc_sh = df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    a = doc_sh.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a"))
    b = doc_sh.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b"))
    n_inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("__n_inter", n_inter)
        .select(
            "doc_a",
            "doc_b",
            (F.col("__n_inter").cast("double") / F.size("__sh_a"))
            .alias("contain_a"),
            (F.col("__n_inter").cast("double") / F.size("__sh_b"))
            .alias("contain_b"),
        )
        .filter(
            F.greatest("contain_a", "contain_b") >= threshold
        )
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.25,
    dim: int = 64,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share a
    random-hyperplane LSH bucket (md5-seeded planes — reproducible on
    any engine), then exact cosine filters at `threshold`. The bucket
    self-join bounds candidates to ~n²/2^planes instead of n²."""
    from fossil_spark.operators.ann import cosine, lsh_signature

    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("bucket", lsh_signature("__v", dim, planes, table=0))
    a = e.select(F.col(id_col).alias("vec_a"), F.col("__v").alias("__va"), "bucket")
    b = e.select(F.col(id_col).alias("vec_b"), F.col("__v").alias("__vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine("__va", "__vb"), round_to).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-group assignment: treat near-dup pairs as edges and
    label every node with the minimum id reachable from it (its
    component). A pair with a null endpoint connects nothing: its
    other endpoint is still a node, and a null id is its own row with
    a null component. Ids take the common type of both columns
    (int/long -> long). This is the canonical 'pick one representative
    per duplicate cluster' step after LSH + verification.

    The pair list is localCheckpointed once, so the upstream pair
    pipeline (minhash LSH, phash decode, ...) executes once on either
    path. The path depends on the list's size:

    - at most B pairs: one Arrow collect, union-find on the driver
      (the root is the smallest id), labels returned as a
      LocalRelation. Near-dup graphs are mostly this size, where every
      Spark job costs a fixed ~0.1 s and the rounds below would be
      O(diameter) of them.
    - more than B pairs: min-label propagation on the cluster. Each
      round is one join + one aggregation, converging in O(graph
      diameter) rounds; localCheckpoint cuts lineage so plans don't
      grow per round. ONE action per round: the convergence `count()`
      materializes the round's lazy checkpoint and returns the
      changed-row count. Fails loudly instead of truncating: if the
      last of `max_iter` rounds still changed a label, a component
      longer than the cap would come back split, so it raises and
      names `max_iter`.

    B = spark.sql.autoBroadcastJoinThreshold / 16 bytes per pair (two
    longs): the size the session already lets Spark pull to the driver
    for a broadcast, so the driver path adds no setting of its own
    (32 MB -> ~2M pairs). A threshold <= 0 turns broadcasts off and
    the driver path with them: the rounds always run."""
    spark = pairs.sparkSession
    ids = pairs.select(F.array(F.col(a_col), F.col(b_col)).alias("ids"))
    id_type = ids.schema["ids"].dataType
    edges = pairs.select(
        F.col(a_col).cast(id_type.elementType).alias("src"),
        F.col(b_col).cast(id_type.elementType).alias("dst"),
    ).localCheckpoint(eager=False)
    max_pairs = _bytes_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ) // 16
    if max_pairs > 0:
        # one action: fills the lazy checkpoint with every partition and
        # brings back at most B+1 pairs
        tbl = edges.limit(max_pairs + 1).toArrow()
        if tbl.num_rows <= max_pairs:
            nullable = id_type.containsNull
            return spark.createDataFrame(
                _components_on_driver(tbl),
                StructType([
                    StructField("doc_id", id_type.elementType, nullable),
                    StructField("component", id_type.elementType, nullable),
                ]),
            )
    edges = _symmetric_edges(edges, "src", "dst").localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    n_changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__changed"),
            )
        )
        updated = updated.localCheckpoint(eager=False)
        n_changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    if n_changed:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), "component")


def _bytes_conf(value: str) -> int:
    """A Spark byte-size setting ("33554432", "10MB", "-1") in bytes."""
    m = re.fullmatch(r"(-?)(\d+)([kmgtp]?)b?", value.strip().lower())
    sign, digits, unit = m.groups()
    scale = 1024 ** ("kmgtp".index(unit) + 1) if unit else 1
    return (-1 if sign else 1) * int(digits) * scale


def _components_on_driver(edges):
    """Union-find over an Arrow (src, dst) table: (doc_id, component)
    per distinct id, component = the smallest id reachable. Ids are
    indexed in sorted order, so the smallest index in a tree is its
    smallest id; each pass hooks every edge's larger root under the
    smaller one (the root count drops every pass) and pointer jumping
    then points every index straight at its root."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    src = edges.column("src").combine_chunks()
    dst = edges.column("dst").combine_chunks()
    ends = pa.concat_arrays([src, dst])
    nodes = pc.unique(ends.drop_null())
    nodes = nodes.take(pc.sort_indices(nodes))
    linked = pc.and_(src.is_valid(), dst.is_valid())
    a = pc.index_in(src.filter(linked), nodes).to_numpy()
    b = pc.index_in(dst.filter(linked), nodes).to_numpy()
    root = np.arange(len(nodes))
    while not (root[a] == root[b]).all():
        ra, rb = root[a], root[b]
        low = np.minimum(ra, rb)
        np.minimum.at(root, ra, low)
        np.minimum.at(root, rb, low)
        while not (root[root] == root).all():
            root = root[root]
    comp = nodes.take(pa.array(root))
    if ends.null_count:
        nodes = pa.concat_arrays([nodes, pa.nulls(1, nodes.type)])
        comp = pa.concat_arrays([comp, pa.nulls(1, comp.type)])
    return pa.table({"doc_id": nodes, "component": comp})


def winnowing_pairs(
    df: DataFrame,
    window: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_doc_freq: int = 32,
) -> DataFrame:
    """Winnowing near-dup detection (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): select the MINIMUM shingle hash in
    every sliding window of `window` hashes as a document
    fingerprint; any sufficiently long shared substring is GUARANTEED
    to contribute a shared fingerprint, a locality guarantee MinHash
    doesn't give ([[dedup_minhash]] bounds whole-document similarity;
    winnowing catches a long shared PASSAGE inside otherwise
    different documents — the plagiarism/citation shape).

    Shape: fingerprints are array expressions folded into the scan
    (per-window mins over the shingle hash sequence, then distinct);
    pairs come from ONE groupBy per fingerprint with the same
    in-bucket explode as LSH (no self-join), then a (pair) count.
    Fingerprints in more than `max_doc_freq` documents are dropped
    BEFORE pair emission — a fingerprint half the corpus shares is a
    common phrase, not a copied passage, and its bucket would emit
    O(n^2) pairs (measured 28 s -> sub-second at sf0.1 on a
    small-vocabulary corpus; the same cap every production winnowing
    index applies). Emits pairs sharing >= min_shared surviving
    fingerprints: (doc_a, doc_b, n_shared)."""
    w = window
    sh = shingles(F.col(text_col), shingle_n)
    h = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    # materialize the hash array in its own projection and build the
    # window mins from the COLUMN in the same select as the explode —
    # referencing the raw `h` expression inside the per-window lambda
    # re-inlines the whole shingle+md5 pipeline once per window
    # (the substring_dedup_stats plan lesson; measured 24 s -> 1.3 s
    # at sf0.1 for this operator)
    d1 = df.select(F.col(id_col), h.alias("__h"))
    hc = F.col("__h")
    m = F.size(hc)
    fps = F.array_distinct(
        F.when(
            m >= w,
            F.transform(
                F.sequence(F.lit(1), m - (w - 1)),
                lambda i: F.array_min(F.slice(hc, i, w)),
            ),
        ).otherwise(F.array(F.array_min(hc)))
    )
    exploded = d1.select(
        F.col(id_col), F.explode(fps).alias("__fp")
    )
    buckets = (
        exploded.groupBy("__fp")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(
            (F.size("ids") > 1) & (F.size("ids") <= max_doc_freq)
        )
    )
    pairs = (
        buckets.select(F.posexplode("ids").alias("i", "doc_a"), "ids")
        .select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2),
                        F.size("ids") - F.col("i") - 1)
            ).alias("doc_b"),
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def lsh_diagnosis(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH parameter diagnosis: where do the candidate pairs actually
    sit on the (b, r) S-curve? Buckets [[dedup_minhash_estimate]]'s
    signature-agreement estimates by agreement count and sets each
    bucket's empirical pair count next to the THEORY candidate
    probability 1-(1-s^r)^b at that similarity — the readout that
    says whether the configured bands are harvesting mostly
    above-threshold pairs (healthy) or a sub-threshold haystack
    (rebucket before the verify tier pays for it). The curve's 50%
    crossover (1/b)^(1/r) is reported alongside.

    Shape: the estimate pipeline + one <= num_hashes+1-row groupBy;
    theory is a fixed-order multiplication chain (no libm pow), so
    the oracle reproduces it bit-exactly. Returns (n_match,
    jaccard_est, n_pairs, theory_p_candidate, lsh_threshold)."""
    est = minhash_jaccard_estimate(
        df, text_col, id_col, num_hashes, rows_per_band, shingle_n
    )
    b = num_hashes // rows_per_band
    g = est.groupBy("n_match", "jaccard_est").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    s = F.col("jaccard_est")
    s_r = s
    for _ in range(rows_per_band - 1):
        s_r = s_r * s
    x = F.lit(1.0) - s_r
    x_b = x
    for _ in range(b - 1):
        x_b = x_b * x
    thresh = round((1.0 / b) ** (1.0 / rows_per_band), 6)
    return g.select(
        "n_match", "jaccard_est", "n_pairs",
        F.round(F.lit(1.0) - x_b, 6).alias("theory_p_candidate"),
        F.lit(thresh).alias("lsh_threshold"),
    )


def neardup_components(docs: DataFrame) -> DataFrame:
    """Near-dup component table for `docs` under the default MinHash
    LSH parameters: connected_components(minhash_lsh_pairs(docs)),
    computed once per session per input plan and kept in the session
    catalog (every post-dedup readout consumes the same table; callers
    that need non-default LSH parameters compose the primitives
    directly). Returns (doc_id, component) for every doc in at least
    one near-dup pair."""
    slot = Slot("neardup_components", docs)
    hit = slot.get()
    if hit is not None:
        return hit
    return slot.put(connected_components(minhash_lsh_pairs(docs)))


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """SimHash fingerprint: per token, a md5-derived integer; per bit,
    the sign of the weighted bit-vote over all tokens (with
    multiplicity). Near-dups have small Hamming distance. One explode
    + one groupBy with `bits` vote aggregates — no per-bit explode."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    votes = [
        F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(id_col, sim.cast("long").alias("simhash"))


def cluster_size_histogram(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup cluster-size distribution — the audit readout after
    any dedup pass: how many duplicate groups of size 2, 3, ... exist
    (a fat tail = template/boilerplate families that deserve their
    own rule; a spike at some size = a generator artifact). Derived
    from connected_components: one groupBy(component) for sizes, one
    groupBy(size) for the histogram — both ship aggregates, not rows.
    Returns (cluster_size, n_clusters)."""
    comp = connected_components(pairs, a_col, b_col, max_iter)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.col("cluster_size").cast("long").alias("cluster_size"),
                F.col("n_clusters").cast("long").alias("n_clusters"))
    )


def threshold_sweep(
    pairs: DataFrame,
    thresholds: list[float] | None = None,
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Dedup threshold-sensitivity audit: how many candidate pairs
    survive each similarity cutoff — the curve a curation run reads
    before committing to a threshold (a cliff between 0.7 and 0.8
    means the choice matters; a plateau means it doesn't). Works on
    any scored pair table (embedding_neardup_pairs, minhash estimates).

    One pass: candidates explode onto the |thresholds|-sized grid
    (bounded fan-out) and a single groupBy counts survivors; the
    total is a 1-row broadcast. Comparisons run on the already-
    rounded similarity against exact grid literals, so both engines
    agree bit-for-bit. Returns (threshold, n_pairs,
    frac_of_candidates) — one row per cutoff."""
    thresholds = thresholds or [
        0.25, 0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6,
        0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95,
    ]
    grid = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    # the scored-pair subtree (LSH join + cosine) is referenced twice
    # (total + per-threshold counts) — checkpoint so it runs once
    pairs = pairs.localCheckpoint(eager=False)
    total = pairs.agg(F.count(F.lit(1)).alias("__total"))
    per_t = (
        pairs.select(F.col(sim_col).alias("__s"), grid)
        .filter(F.col("__s") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    # left join from the grid so empty cutoffs still report 0
    tgrid = pairs.sparkSession.range(1).select(grid)
    return (
        tgrid.join(per_t, "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.round(
                F.try_divide(
                    F.coalesce("n_pairs", F.lit(0)).cast("double"),
                    F.col("__total").cast("double"),
                ),
                6,
            ).alias("frac_of_candidates"),
        )
    )


def quality_representative(docs: DataFrame) -> DataFrame:
    """Quality-aware dedup representative selection: within each
    near-dup component (MinHash LSH pairs -> connected components),
    keep the HIGHEST-quality member instead of the arbitrary min-id —
    what a production curation pass actually wants (the cleanest copy
    survives, not the first-crawled one). Singletons are their own
    representative.

    Pure composition of three oracle-proven operators: the component
    labels broadcast onto the quality-scored corpus, then one rank
    window over the per-component groups. Quality rounds @6 on both
    engines before ranking so ties break on doc_id identically.
    Returns (doc_id, component, quality, is_representative)."""
    from pyspark.sql import Window

    from fossil_spark.operators.text import quality_score

    comp = neardup_components(docs)
    q = quality_score(docs).select(
        "doc_id", F.round("quality", 6).alias("quality")
    )
    j = q.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "quality",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return j.select(
        "doc_id", "component", "quality",
        (F.row_number().over(w) == 1).alias("is_representative"),
    )


def prefix_dedup(
    docs: DataFrame,
    prefix_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Prefix-duplicate detection: documents sharing their first
    `prefix_tokens` tokens — the templated-page artifact (boilerplate
    headers, mirrored articles with differing tails) that exact dedup
    misses and MinHash only catches when the shared prefix dominates.
    Standard crawl-pipeline screen (complements [[dedup_exact]] /
    [[dedup_paragraph]] at the document-head granularity).

    One md5-of-prefix groupBy (map-side combined) + a broadcast
    join-back to name members; work is corpus-linear. Emits only
    docs in multi-doc prefix groups: (doc_id, group_id = min doc_id,
    n_docs_same_prefix)."""
    from fossil_spark.operators.text import tokens

    key = F.md5(
        F.concat_ws(
            " ", F.slice(tokens(F.col(text_col)), 1, prefix_tokens)
        )
    )
    d = docs.select(F.col(id_col), key.alias("__k"))
    g = (
        d.groupBy("__k")
        .agg(
            F.min(id_col).alias("group_id"),
            F.count(F.lit(1)).alias("n_docs_same_prefix"),
        )
        .filter(F.col("n_docs_same_prefix") > 1)
    )
    return d.join(F.broadcast(g), "__k").select(
        id_col, "group_id", "n_docs_same_prefix"
    )


def suffix_dedup(
    docs: DataFrame,
    suffix_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Suffix-duplicate detection — [[dedup_prefix]]'s mirror for
    templated FOOTERS (copyright blocks, nav boilerplate, signature
    spam): documents sharing their last `suffix_tokens` tokens. Same
    corpus-linear md5-group shape. Documents shorter than the window
    key on their full token list (documented). Emits docs in
    multi-doc suffix groups: (doc_id, group_id, n_docs_same_suffix)."""
    from fossil_spark.operators.text import tokens

    t = tokens(F.col(text_col))
    tail = F.when(
        F.size(t) >= suffix_tokens,
        F.slice(t, -suffix_tokens, suffix_tokens),
    ).otherwise(t)
    d = docs.select(
        F.col(id_col), F.md5(F.concat_ws(" ", tail)).alias("__k")
    )
    g = (
        d.groupBy("__k")
        .agg(
            F.min(id_col).alias("group_id"),
            F.count(F.lit(1)).alias("n_docs_same_suffix"),
        )
        .filter(F.col("n_docs_same_suffix") > 1)
    )
    return d.join(F.broadcast(g), "__k").select(
        id_col, "group_id", "n_docs_same_suffix"
    )


def method_compare(docs: DataFrame) -> DataFrame:
    """Comparative dedup audit: how many documents each dedup family
    flags — exact (normalized text), prefix (first 32 tokens), suffix
    (last 32 tokens), MinHash near-dup components — in one readout,
    so a curation run can see which pass pays for itself on THIS
    corpus before burning the big shuffle. Pure composition of four
    oracle-proven operators; each count is the number of docs in a
    multi-doc group for that method. Returns one row per method:
    (method, n_docs_flagged, n_groups)."""
    norm_groups = (
        docs.select(
            "doc_id", F.md5(normalize_text(F.col("text"))).alias("__k")
        )
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    pre = prefix_dedup(docs, 32).groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    suf = suffix_dedup(docs, 32).groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    comp = (
        neardup_components(docs)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )

    def summarize(df, name):
        return df.agg(
            F.lit(name).alias("method"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias(
                "n_docs_flagged"
            ),
            F.count(F.lit(1)).alias("n_groups"),
        )

    return (
        summarize(norm_groups, "exact")
        .unionByName(summarize(pre, "prefix"))
        .unionByName(summarize(suf, "suffix"))
        .unionByName(summarize(comp, "minhash"))
    )


def rate_by_source(docs: DataFrame) -> DataFrame:
    """Near-dup contamination per source: what fraction of each
    source's documents sit in a MinHash near-dup component — the
    "which feed is dirtiest" readout that turns [[dedup_minhash]]'s
    pair list into a procurement decision ([[pipeline_dedup_savings]]
    prices the whole corpus; this names the offender). Components
    broadcast onto one doc scan + one source groupBy; floor-half-up
    rates. Returns (source, n_docs, n_in_dup, dup_rate,
    n_removable)."""
    comp = neardup_components(docs)
    j = docs.select("doc_id", "source").join(
        F.broadcast(comp), "doc_id", "left"
    )
    in_dup = F.col("component").isNotNull()
    removable = in_dup & (F.col("component") != F.col("doc_id"))
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(in_dup, 1).otherwise(0)).cast("long").alias(
            "n_in_dup"
        ),
        F.sum(F.when(removable, 1).otherwise(0)).cast("long").alias(
            "n_removable"
        ),
    )
    return agg.select(
        "source", "n_docs", "n_in_dup",
        (
            F.floor(
                F.col("n_in_dup").cast("double")
                / F.col("n_docs").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("dup_rate"),
        "n_removable",
    )


def bloom_audit(
    df: DataFrame,
    m_bits_log2: list[int] | None = None,
    k_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter sizing audit for at-scale exact dedup (Bloom
    1970; Broder & Mitzenmacher 2004 survey): before shipping a
    membership filter to every executor, MEASURE the false-positive
    rate each candidate size would give on THIS corpus — build the
    bit set from the corpus's normalized-text hashes (k deterministic
    md5-derived bit positions per member), then probe it with an
    equal-sized disjoint probe set and count probes whose k bits are
    all set. The measured rate sits next to the textbook
    (1 - e^(-kn/m))^k so capacity planning uses evidence, not the
    iid-hash idealization (real fill ratios drift when n/m is
    guessed). A Bloom filter is THE primitive that makes
    exact-dedup-against-history O(1) memory-bounded per executor at
    100 TB — this op prices its one tunable.

    Shape: members explode to n*k (m, bit) rows -> distinct bit set;
    probes explode the same way and LEFT-join the bit set on
    (m_log2, bit); a probe is a false positive iff all k bits
    matched. Integer counts end to end; exp() only in the textbook
    column. Returns one row per candidate size: (m_bits_log2,
    k_hashes, n_members, bits_set, fill_ratio, fp_measured,
    fp_theoretical)."""
    m_bits_log2 = m_bits_log2 or [16, 20]
    key = F.md5(normalize_text(F.col(text_col)))
    members = df.select(key.alias("__key")).distinct()

    def bits(src, prefix, keycol):
        # two generators can't share one select: chain the explodes
        ex = src.select(
            keycol.alias("__k"),
            F.explode(
                F.array(*[F.lit(j) for j in range(1, k_hashes + 1)])
            ).alias("__j"),
        ).select(
            "__k", "__j",
            F.explode(
                F.array(*[F.lit(m) for m in m_bits_log2])
            ).alias("m_bits_log2"),
        )
        h = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col("__j").cast("string"),
                                   F.lit(":"), F.col("__k"))),
                    1, 13,
                ),
                16, 10,
            ).cast("long")
            % F.pow(F.lit(2.0), F.col("m_bits_log2").cast("double"))
            .cast("long")
        )
        return ex.select("__k", "__j", "m_bits_log2", h.alias("__bit"))

    bitset = bits(members, "bf", F.col("__key")).select(
        "m_bits_log2", "__bit"
    ).distinct()
    probes = bits(
        df.select(F.col(id_col)).distinct(),
        "bloomprobe",
        F.col(id_col).cast("string"),
    )
    matched = probes.join(
        bitset.withColumn("__hit", F.lit(1)), ["m_bits_log2", "__bit"],
        "left",
    ).groupBy("m_bits_log2", "__k").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__nhit")
    )
    fp = matched.groupBy("m_bits_log2").agg(
        F.count(F.lit(1)).cast("long").alias("__nprobe"),
        F.sum(F.when(F.col("__nhit") >= k_hashes, 1).otherwise(0))
        .cast("long").alias("__nfp"),
    )
    nm = members.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    bs = bitset.groupBy("m_bits_log2").agg(
        F.count(F.lit(1)).cast("long").alias("bits_set")
    )
    j = fp.join(bs, "m_bits_log2").crossJoin(F.broadcast(nm))
    md = F.pow(F.lit(2.0), F.col("m_bits_log2").cast("double"))
    theo = F.pow(
        F.lit(1.0)
        - F.exp(
            -(F.lit(float(k_hashes)) * F.col("n_members").cast("double"))
            / md
        ),
        F.lit(float(k_hashes)),
    )
    return j.select(
        "m_bits_log2",
        F.lit(int(k_hashes)).alias("k_hashes"),
        "n_members", "bits_set",
        F.round(F.col("bits_set").cast("double") / md, 6)
        .alias("fill_ratio"),
        F.round(
            F.col("__nfp").cast("double")
            / F.col("__nprobe").cast("double"), 6,
        ).alias("fp_measured"),
        F.round(theo, 6).alias("fp_theoretical"),
    )


def bbit_minhash_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """1-bit minwise hashing audit (Li & König 2010, WWW — "b-Bit
    Minwise Hashing"): storing only the LOWEST BIT of each minhash
    shrinks the signature 32x (here: 8 hex strings -> one byte) at
    the cost of a noisier estimator — for b=1 the collision baseline
    is 1/2, so J_b1 = 2·(bit match rate) − 1. This op puts the 1-bit
    estimate NEXT TO the full-signature estimate per candidate pair
    ([[dedup_minhash_estimate]]), pricing the compression before a
    100 TB signature store commits to it: est_gap is the information
    you'd give up.

    Shape: identical to the estimate op — signature matrix
    checkpointed once, banded pairs, two id-keyed joins; the bit of
    each hex minhash is its last nibble's parity (both engines
    compute it from the same md5 strings). All counts integer; the
    two estimates are single divisions. Returns (doc_a, doc_b,
    n_match, jaccard_est, n_bit_match, jaccard_b1, est_gap)."""
    sigs = _signature_matrix(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    pairs = _pairs_from_sigs(sigs, id_col, num_hashes, rows_per_band)
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"__mh{s}").alias(f"__a{s}") for s in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"__mh{s}").alias(f"__b{s}") for s in range(num_hashes)],
    )

    def bit(col):
        return F.conv(F.substring(col, 32, 1), 16, 10).cast("long") % 2

    n_match = sum(
        (F.col(f"__a{s}") == F.col(f"__b{s}")).cast("long")
        for s in range(num_hashes)
    )
    n_bit = sum(
        (bit(F.col(f"__a{s}")) == bit(F.col(f"__b{s}"))).cast("long")
        for s in range(num_hashes)
    )
    jf = n_match.cast("double") / F.lit(float(num_hashes))
    jb = (
        F.lit(2.0) * n_bit.cast("double") / F.lit(float(num_hashes))
        - F.lit(1.0)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            F.round(jf, 6).alias("jaccard_est"),
            n_bit.alias("n_bit_match"),
            F.round(jb, 6).alias("jaccard_b1"),
            F.round(jb - jf, 6).alias("est_gap"),
        )
    )
